package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** True Structured Streaming runs of the window aggregations: the same
  * transform body as the batch queries, fed through MemoryStream, must
  * produce the batch answer — that's the streaming/batch equivalence
  * Structured Streaming's incremental execution guarantees.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def batchEvents = {
    import spark.implicits._
    Tables(spark, sf).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .as[Ev]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
      .toSeq
  }

  test("streaming tumbling window == batch tumbling window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(batchEvents)
    val q = EventStreams.tumblingAgg(ms.toDF().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = EventStreams.tumblingWindow(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming session window (append + watermark flush) == batch sessions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evs = batchEvents
    val maxTs = evs.map(_.ts.getTime).max
    // sentinel far in the future advances the watermark so all real
    // sessions finalize and are emitted in append mode
    val sentinel = Ev(-1L, new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000),
      999999L, "sentinel", 0.0, "{}")
    val ms = MemoryStream[Ev]
    val q = EventStreams.sessionAgg(ms.toDF().withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      ms.addData(evs)
      q.processAllAvailable()
      ms.addData(Seq(sentinel))
      q.processAllAvailable()
      val got = spark.table("session_out")
        .filter(col("user_id") =!= 999999L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val want = EventStreams.sessionWindow(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer == built-in session_window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evs = batchEvents
    val maxTs = evs.map(_.ts.getTime).max
    val sentinel = Ev(-1L, new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000),
      999999L, "sentinel", 0.0, "{}")
    val ms = MemoryStream[Ev]
    val stream = ms.toDF().withWatermark("ts", "1 minute")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[graft.streaming.SEvent]
    val q = graft.streaming.EventStreams.sessionizeCustom(stream)
      .writeStream.format("memory").queryName("custom_session_out")
      .outputMode("append").start()
    try {
      ms.addData(evs)
      q.processAllAvailable()
      ms.addData(Seq(sentinel))
      q.processAllAvailable()
      val got = spark.table("custom_session_out")
        .filter(col("user_id") =!= 999999L)
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          org.apache.spark.sql.functions.round(col("sum_value"), 2).as("sv"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val want = EventStreams.sessionWindow(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("stream-stream interval join == batch interval join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evs = batchEvents
    val msP = MemoryStream[Ev]
    val msS = MemoryStream[Ev]
    val purchases = msP.toDF().withWatermark("ts", "1 hour")
    val signups = msS.toDF().withWatermark("ts", "25 hours")
    val joined = EventStreams.purchaseSignupPairs(purchases, signups)
      .select(col("p_id"), col("s_id"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      msP.addData(evs.filter(_.event_type == "purchase"))
      msS.addData(evs.filter(_.event_type == "signup"))
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val t = Tables(spark, sf)
      val want = EventStreams.purchaseSignupPairs(
          t.events.filter(col("event_type") === "purchase"),
          t.events.filter(col("event_type") === "signup"))
        .select(col("p_id"), col("s_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("foreachBatch sink writes parquet per micro-batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fe").toString
    val ms = MemoryStream[Ev]
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$dir/out")
      }
      .start()
    try {
      ms.addData(batchEvents.take(100))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out").count() == 100)
    } finally q.stop()
  }

  test("streaming dropDuplicates == batch first-occurrence") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(batchEvents) // already in (ts, event_id) order
    val q = ms.toDF().withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = EventStreams.firstOccurrence(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming error sessions == batch q164 (merging session state)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evs = batchEvents
    val maxTs = evs.map(_.ts.getTime).max
    val sentinel = Ev(-1L, new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000),
      999999L, "sentinel", 0.0, "{}")
    val ms = MemoryStream[Ev]
    val sink = s"err_sess_${System.nanoTime()}"
    val q = EventStreams.errorSessionsAgg(
        ms.toDF().withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      ms.addData(evs); q.processAllAvailable()
      ms.addData(Seq(sentinel)); q.processAllAvailable()
      val got = spark.table(sink)
        .filter(col("user_id") =!= 999999L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSet
      val want = EventStreams.errorSessions(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming decontamination (stream-static broadcast join) == batch q117") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // static side: the benchmark gram set, exactly as the batch query
    // derives it; stream side: the rest of the corpus arriving as a feed
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val bench = operators.TextAnalysis.docGrams(docs)
      .filter(col("doc_id") % 5 === 0).select(col("g")).distinct()
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ms = MemoryStream[(Long, String)]
    // two batches: a stream-static join must give the batch answer
    // regardless of how the feed is chunked
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val streamDocs = ms.toDF().toDF("doc_id", "text")
    val q = operators.TextAnalysis
      .contaminationCounts(operators.TextAnalysis.docGrams(streamDocs), bench)
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode("complete").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val got = spark.table("decontam_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = SparkEntry.queries("q117_decontaminate")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming corpus pipeline (anti-join decontamination + gates + mixture) == batch q121") {
    import spark.implicits._
    import graft.functions.TextFunctions
    implicit val ctx = spark.sqlContext
    val docs = Tables(spark, sf).documents
    // The feed is batch-deduped (streaming stateful dedup is covered by
    // the dropDuplicates test; chaining two stateful operators in one
    // query is restricted); the stream then carries the cleaning stages:
    // stream-static LEFT ANTI decontamination against the precomputed
    // contaminated-id set, per-row quality/repetition gates, and the
    // complete-mode mixture aggregation.
    val keep = docs.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val corpus = docs.join(keep, Seq("doc_id")).filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val bench = operators.TextAnalysis
      .docGrams(docs.filter(col("doc_id") % 5 === 0)).select("g").distinct()
    val contaminated = operators.TextAnalysis.docGrams(corpus)
      .join(broadcast(bench), Seq("g")).select("doc_id").distinct()
    val feed = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    val ms = MemoryStream[(Long, String, String, String)]
    val sdf = ms.toDF().toDF("doc_id", "text", "lang", "source")
    val mixture = sdf
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("lang"), col("source"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.tokenCount(col("text")).cast("long").as("t"),
        operators.TextAnalysis.topwordPm(col("text")).as("tw"),
        operators.TextAnalysis.dupBigramPm(col("text")).as("db"))
      .filter(col("q") >= 300 && col("t") >= 50 &&
        col("tw") <= 200 && col("db") <= 100)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"),
        sum(col("q")).as("sum_quality"))
    val q = mixture.writeStream.format("memory").queryName("pipeline_out")
      .outputMode("complete").start()
    try {
      val (b1, b2) = feed.splitAt(feed.length / 3)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val got = spark.table("pipeline_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val want = SparkEntry.queries("q121_full_pipeline")(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming agg restarted from checkpoint recovers state exactly") {
    import spark.implicits._
    // Durability: the reference's central recovery mechanism is the
    // buffer-pool checkpoint (`buffer_pool.cpp:363-377`); the Structured
    // Streaming analogue is the WAL + state-store checkpoint. A windowed
    // aggregation is fed half its input, STOPPED, then restarted from
    // the same checkpoint dir on the remaining files — the second run
    // never sees the first half's data, so the final complete-mode
    // output equals the whole-input batch answer ONLY if offsets AND
    // aggregation state both survived the restart.
    val evs = batchEvents
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val src = java.nio.file.Files.createTempDirectory("graft_srcdir").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val schema = spark.createDataset(evs).schema
    def feed(rows: Seq[Ev]): Unit =
      spark.createDataset(rows).coalesce(1)
        .write.mode("append").parquet(src)
    def start(name: String) =
      EventStreams.tumblingAgg(
          spark.readStream.schema(schema).parquet(src)
            .withWatermark("ts", "1 hour"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
    feed(h1)
    val q1 = start("ckpt_run1")
    try q1.processAllAvailable() finally q1.stop()
    val afterHalf = spark.table("ckpt_run1").count()
    feed(h2)
    val q2 = start("ckpt_run2")
    try {
      q2.processAllAvailable()
      val got = spark.table("ckpt_run2").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = EventStreams.tumblingWindow(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want,
        s"restart diverged: ${got.size} rows vs batch ${want.size} (run1 saw $afterHalf)")
    } finally q2.stop()
  }

  test("streaming fuzzy-dedup keep-list == batch q129 on planted-dup corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // Same planted-dup construction as the candidate-set spec: 100
    // originals + 100 tail-mutated copies, streamed in FOUR micro-batches
    // ordered so every planted pair spans batches — the incremental
    // keep-list must equal the one-shot batch keep-list over the union.
    val base = Tables(spark, sf).documents
      .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
    val mutated = base
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(expr("substring(text, 1, length(text) - 20)"),
          lit(" zz mutated tail zz")).as("text"))
    val corpus = base.union(mutated)
    val feed = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_keeplist").toString
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.StreamingDedup.dedupBatch(batch, store, id); ()
      }
      .start()
    try {
      feed.grouped(50).foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = graft.streaming.StreamingDedup.keepList(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = operators.Dedup.fuzzyDedupKeepFrom(spark, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want,
      s"streaming keep-list diverged: ${got.size} rows vs batch ${want.size}")
    // and the clusters actually collapsed: every planted copy maps to its
    // original (canonical = the lower id of the pair)
    val collapsed = got.count { case (id, canon) =>
      id >= 100000L && canon == id - 100000L }
    assert(collapsed >= 90, s"only $collapsed of 100 planted copies collapsed")
  }

  test("streaming semantic dedup == batch q128 on planted-dup corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // 100 originals + 100 exact copies (cosine exactly 1 ≥ tau), streamed
    // in FOUR micro-batches so every planted pair spans batches. The
    // quantizer is frozen over the UNION (same K-lowest-id rule the batch
    // tier uses), so both formulations assign identical cells.
    val base = Tables(spark, sf).embeddings
      .filter(col("vec_id") < 100).select(col("vec_id"), col("embedding"))
    val copies = base.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val corpus = base.union(copies)
    val cents = operators.Similarity.centroidDirs(corpus, 16)
    val feed = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_sem_spec").toString
    val ms = MemoryStream[(Long, Array[Float])]
    val q = ms.toDS().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.StreamingDedup
          .semanticBatch(batch, store, cents, 0.35, id); ()
      }
      .start()
    try {
      feed.grouped(50).foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = graft.streaming.StreamingDedup
      .semanticDecisionTable(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3))).toSeq
    val want = operators.Similarity.semanticDedupFrom(corpus, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3))).toSeq
    assert(got == want,
      s"streaming decision table diverged: ${got.size} vs ${want.size}")
    // every exact copy must be dropped (its lower-id twin is in-cell with
    // cosine exactly 1)
    val droppedCopies = got.count { case (id, _, kept, _) =>
      id >= 100000L && !kept }
    assert(droppedCopies == 100, s"only $droppedCopies of 100 copies dropped")
  }

  test("ordered feed fails fast where the filesystem ignores setTimes") {
    import spark.implicits._
    // An object-store-like FS whose setTimes is the base-class silent
    // no-op: the ordered feed's mtime readback must detect the
    // unhonored stamps and refuse with the named cause, never hand an
    // order-sensitive consumer an unspecified file order.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setClass("fs.noset.impl", classOf[graft.NoSetTimesFs],
      classOf[org.apache.hadoop.fs.FileSystem])
    val base = java.nio.file.Files
      .createTempDirectory("graft_noset_feed").toString
    val ev = Tables(spark, sf).events.limit(200)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.FileFeed.prepare(spark, ev, nChunks = 4,
        unix_micros(col("ts")), ordered = true, purpose = "noset",
        baseDir = Some(s"noset://$base"))
    }
    assert(e.getMessage.contains("setTimes was not honored"),
      s"must name the cause: ${e.getMessage}")
    // the same FS is fine for ORDER-INSENSITIVE feeds (no stamps needed)
    val (_, feedDir) = graft.streaming.FileFeed.prepare(spark, ev,
      nChunks = 4, col("event_id"), ordered = false, purpose = "noset2",
      baseDir = Some(s"noset://$base-unordered"))
    assert(spark.read.parquet(feedDir).count() == 200)
  }

  test("streaming transitions: every pair straddles a batch boundary, equals batch") {
    import spark.implicits._
    // 6 users × 8 events, timestamps spread so the 8-chunk ordered feed
    // puts each event in its OWN micro-batch — every single transition
    // crosses a batch boundary and exists only because the last-event
    // state carries over; a per-batch window would emit nothing.
    val types = Seq("view", "click", "purchase", "error")
    val evs = for {
      u <- 1L to 6L
      i <- 0L until 8L
    } yield (u * 100 + i, // event_id
      new java.sql.Timestamp(1704067200000L + i * 3600 * 1000 + u * 1000),
      u, types(((u + i) % 4).toInt))
    val df = evs.toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.streaming.EventStreams.streamingTransitionsFrom(df)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val want = operators.Behavioral.eventTransitionsFrom(df)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == want,
      s"streaming transitions diverged from batch: $got vs $want")
    assert(got.map(_._3).sum == 6 * 7,
      "all 42 adjacent pairs must be found across batch boundaries")
  }

  test("legacy flat band store: resume reads it, keeps writing flat, same keep-list") {
    import spark.implicits._
    // A store written BEFORE the pb= bucket level must resume cleanly:
    // reads fall back to the unpruned (b=-only) path, and subsequent
    // batches keep the FLAT layout — a mixed tree would break Spark's
    // partition discovery. Build two batches bucketed, replicate them
    // as a pre-bucketing store (bands flattened), run batch 3 against
    // both, and require identical keep-lists plus a flat new dir.
    val base = Tables(spark, sf).documents.filter(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    val chunks = base.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq.grouped(40).toSeq
    val storeA = java.nio.file.Files
      .createTempDirectory("graft_legacy_bucketed").toString
    chunks.take(2).zipWithIndex.foreach { case (c, i) =>
      graft.streaming.StreamingDedup.dedupBatch(c.toDF("doc_id", "text"),
        storeA, i)
    }
    val storeB = java.nio.file.Files
      .createTempDirectory("graft_legacy_flat").toString
    for (sub <- Seq("sigs", "ids", "pairs", "counts"); b <- 0 to 1) {
      val src = s"$storeA/$sub/b=$b"
      if (new java.io.File(src).exists())
        spark.read.parquet(src).write.parquet(s"$storeB/$sub/b=$b")
    }
    for (b <- 0 to 1)
      spark.read.parquet(s"$storeA/bands/b=$b").drop("pb")
        .write.parquet(s"$storeB/bands/b=$b")
    Seq(storeA, storeB).foreach { st =>
      graft.streaming.StreamingDedup.dedupBatch(
        chunks(2).toDF("doc_id", "text"), st, 2)
    }
    val newDirs = new java.io.File(s"$storeB/bands/b=2").listFiles()
      .map(_.getName)
    assert(!newDirs.exists(_.startsWith("pb=")),
      s"legacy store must stay flat, got $newDirs")
    assert(new java.io.File(s"$storeA/bands/b=2").listFiles()
      .exists(_.getName.startsWith("pb=")),
      "bucketed store must stay bucketed")
    val gotA = graft.streaming.StreamingDedup.keepList(spark, storeA)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gotB = graft.streaming.StreamingDedup.keepList(spark, storeB)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotA == gotB,
      s"legacy-layout keep-list diverged: ${gotB.size} vs ${gotA.size}")
  }

  test("streaming dedup degenerate corpus: caps bind, compaction == batch escalation") {
    import spark.implicits._
    // All-identical corpus — the LSH/cell worst case no banding fixes.
    // Every band bucket / cell is ONE corpus-sized hot group: the
    // accumulated guard skips it from pair generation (the stream
    // completes linearly), and ASSEMBLY runs the deferred compaction —
    // the exact-dup escalation over finally-hot groups — so the
    // keep-list / decision table must equal the one-shot batch run, which
    // collapses the identical mass via its own escalation rung.
    val one = Tables(spark, sf).documents.filter(col("doc_id") === 0L)
      .select(substring(col("text"), 1, 100).as("text")).head().getString(0)
    val docs = (0L until 200L).map(i => (i, one))
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_degen").toString
    docs.grouped(50).zipWithIndex.foreach { case (c, i) =>
      graft.streaming.StreamingDedup
        .dedupBatch(c.toDF("doc_id", "text"), store, i, maxBucket = 10)
    }
    val keep = graft.streaming.StreamingDedup.keepList(spark, store,
        maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wantKeep = operators.Dedup
      .fuzzyDedupKeepFrom(spark, docs.toDF("doc_id", "text"), maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keep.length == 200, s"keep-list must cover the corpus: ${keep.length}")
    assert(keep.sameElements(wantKeep),
      "degenerate streaming keep-list must equal batch q129 (compaction rung)")
    assert(keep.count { case (d, c) => c == 0L } == 200,
      "the identical mass must collapse to doc 0 via exact-md5 escalation")
    // embedding tier: 200 identical vectors, one hot cell
    val vec = Tables(spark, sf).embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val vecs = (0L until 200L).map(i => (i, vec))
    val estore = java.nio.file.Files
      .createTempDirectory("graft_stream_degen_sem").toString
    val cents = graft.operators.Similarity
      .centroidDirs(vecs.toDF("vec_id", "embedding"), 4)
    vecs.grouped(50).zipWithIndex.foreach { case (c, i) =>
      graft.streaming.StreamingDedup.semanticBatch(
        c.toDF("vec_id", "embedding"), estore, cents, 0.35, i, maxCell = 10)
    }
    val table = graft.streaming.StreamingDedup
      .semanticDecisionTable(spark, estore, maxCell = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3)))
    val wantTable = operators.Similarity
      .semanticDedupFrom(vecs.toDF("vec_id", "embedding"), 0.35, k = 4,
        maxCell = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3)))
    assert(table.length == 200, s"decision table must cover the corpus: ${table.length}")
    assert(table.sameElements(wantTable),
      "degenerate streaming decision table must equal batch q128 (compaction rung)")
    assert(table.count(_._3) == 1 && table.find(_._3).exists(_._1 == 0L) &&
      table.forall(_._4),
      "exactly vec 0 kept, all rows escalation-marked")
  }

  test("streaming dedup cap straddle: bucket crossing maxBucket mid-stream == batch") {
    import spark.implicits._
    // The adversarial case for an append-only store: a group UNDER the
    // cap in early batches (pairs get generated and stored) that crosses
    // the cap mid-stream. The one-shot batch replay classifies the group
    // hot — no pairwise evidence, only exact-dup escalation — so assembly
    // must retract the early pairs (provenance anti-join against finally-
    // hot buckets) for streaming == batch to hold. 15 identical docs fed
    // 5 per batch across maxBucket=10: their buckets go 5 → 10 → 15,
    // crossing the cap at the third batch. A disjoint planted near-dup
    // mass (cold buckets throughout) must keep its pairs through the same
    // assembly.
    val one = Tables(spark, sf).documents.filter(col("doc_id") === 0L)
      .select(substring(col("text"), 1, 120).as("text")).head().getString(0)
    val base = Tables(spark, sf).documents
      .filter(col("doc_id") >= 10 && col("doc_id") < 40)
      .select(col("doc_id") + 1000L, col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nearDups = base.map { case (id, txt) =>
      (id + 1000L, txt.dropRight(20) + " zz mutated tail zz") }
    val straddlers = (0L until 15L).map(i => (i, one))
    val corpus = (straddlers ++ base ++ nearDups).sortBy(_._1)
    // 5 straddlers per batch: interleave so each of the first 3 batches
    // carries 5 of them plus a slice of the cold mass
    val batches = straddlers.grouped(5).toSeq.zipWithIndex.map {
      case (s, i) => s ++ (base ++ nearDups).sortBy(_._1).toSeq
        .grouped((base.length * 2 + 2) / 3).toSeq.lift(i)
        .getOrElse(Seq.empty)
    }
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_straddle").toString
    batches.zipWithIndex.foreach { case (c, i) =>
      graft.streaming.StreamingDedup
        .dedupBatch(c.toDF("doc_id", "text"), store, i, maxBucket = 10)
    }
    val got = graft.streaming.StreamingDedup.keepList(spark, store,
        maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = operators.Dedup
      .fuzzyDedupKeepFrom(spark, corpus.toDF("doc_id", "text"), maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want,
      s"cap-straddle streaming keep-list diverged: ${got.size} vs batch ${want.size}")
    // the straddling identical mass collapsed (escalation), and the cold
    // near-dup mass still merged (its early pairs survived assembly)
    assert(got.count { case (id, c) => id < 15L && c == 0L } == 15,
      "straddling identical docs must collapse to doc 0")
    val merged = got.count { case (id, c) => id >= 2000L && c == id - 1000L }
    assert(merged >= 25, s"only $merged of 30 cold near-dup pairs merged")
    // semantic sibling: 15 identical vectors straddling maxCell=10 over
    // three batches, plus a disjoint exact-copy mass in cold cells
    val vec = Tables(spark, sf).embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val ebase = Tables(spark, sf).embeddings
      .filter(col("vec_id") >= 10 && col("vec_id") < 40)
      .select(col("vec_id") + 1000L, col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ecopies = ebase.map { case (id, e) => (id + 1000L, e) }
    val estraddlers = (0L until 15L).map(i => (i, vec))
    val ecorpus = (estraddlers ++ ebase ++ ecopies).sortBy(_._1)
    val cents = operators.Similarity
      .centroidDirs(ecorpus.toDF("vec_id", "embedding"), 16)
    val ebatches = estraddlers.grouped(5).toSeq.zipWithIndex.map {
      case (s, i) => s ++ (ebase ++ ecopies).sortBy(_._1).toSeq
        .grouped((ebase.length * 2 + 2) / 3).toSeq.lift(i)
        .getOrElse(Seq.empty)
    }
    val estore = java.nio.file.Files
      .createTempDirectory("graft_stream_straddle_sem").toString
    ebatches.zipWithIndex.foreach { case (c, i) =>
      graft.streaming.StreamingDedup.semanticBatch(
        c.toDF("vec_id", "embedding"), estore, cents, 0.35, i, maxCell = 10)
    }
    val gotSem = graft.streaming.StreamingDedup
      .semanticDecisionTable(spark, estore, maxCell = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3))).toSeq
    val wantSem = operators.Similarity
      .semanticDedupFrom(ecorpus.toDF("vec_id", "embedding"), 0.35, k = 16,
        maxCell = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3))).toSeq
    assert(gotSem == wantSem,
      s"cap-straddle streaming decision table diverged: ${gotSem.size} vs ${wantSem.size}")
  }

  test("streaming dedup counts snapshot == full store recount; replays are no-ops") {
    import spark.implicits._
    // Incremental-guard invariant: after B batches, the latest cumulative
    // counts snapshot must equal a full re-aggregation of the stored band
    // rows (the O(store) recount the snapshot replaces). Then replay two
    // committed batches — normal foreachBatch retry semantics — and
    // assert the store is byte-for-byte unchanged (batchId-keyed
    // overwrite + commit marker make replays no-ops).
    val corpus = Tables(spark, sf).documents
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val store = java.nio.file.Files
      .createTempDirectory("graft_stream_counts").toString
    val chunks = corpus.grouped(40).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      graft.streaming.StreamingDedup
        .dedupBatch(c.toDF("doc_id", "text"), store, i)
    }
    def snapshot(): Map[(Int, Long), Long] = {
      val dir = new java.io.File(s"$store/counts").listFiles()
        .filter(_.getName.startsWith("b=")).map(_.getName.drop(2).toLong).max
      spark.read.parquet(s"$store/counts/b=$dir")
        .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    }
    val snap = snapshot()
    val recount = spark.read.parquet(s"$store/bands").drop("b")
      .groupBy(col("band_idx"), col("band_val")).agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(snap == recount,
      s"counts snapshot (${snap.size} keys) != full recount (${recount.size})")
    // snapshots are pruned: only the last two batch snapshots remain
    val kept = new java.io.File(s"$store/counts").listFiles()
      .filter(_.getName.startsWith("b=")).map(_.getName.drop(2).toLong).sorted
    assert(kept.length <= 2, s"stale counts snapshots not pruned: ${kept.toSeq}")
    // replay batches 0 and 2 (already committed) — store must not change
    val keepBefore = graft.streaming.StreamingDedup.keepList(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sigRows = spark.read.parquet(s"$store/sigs").count()
    val pairRows = spark.read.parquet(s"$store/pairs").count()
    Seq(0, 2).foreach { i =>
      graft.streaming.StreamingDedup
        .dedupBatch(chunks(i).toDF("doc_id", "text"), store, i)
    }
    assert(spark.read.parquet(s"$store/sigs").count() == sigRows &&
      spark.read.parquet(s"$store/pairs").count() == pairRows,
      "replaying committed batches must not grow the store")
    assert(snapshot() == snap, "replay must not advance the counts snapshot")
    val keepAfter = graft.streaming.StreamingDedup.keepList(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keepAfter == keepBefore, "replay changed the keep-list")
    // semantic tier: same snapshot + replay invariants on the cell counts
    val ecorpus = Tables(spark, sf).embeddings
      .filter(col("vec_id") < 120).select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val cents = operators.Similarity
      .centroidDirs(ecorpus.toDF("vec_id", "embedding"), 16)
    val estore = java.nio.file.Files
      .createTempDirectory("graft_stream_counts_sem").toString
    val echunks = ecorpus.grouped(40).toSeq
    echunks.zipWithIndex.foreach { case (c, i) =>
      graft.streaming.StreamingDedup
        .semanticBatch(c.toDF("vec_id", "embedding"), estore, cents, 0.35, i)
    }
    def esnapshot(): Map[Long, Long] = {
      val last = new java.io.File(s"$estore/counts").listFiles()
        .filter(_.getName.startsWith("b=")).map(_.getName.drop(2).toLong).max
      spark.read.parquet(s"$estore/counts/b=$last")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    val esnap = esnapshot()
    val erecount = spark.read.parquet(s"$estore/asg").drop("b")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(esnap == erecount, "semantic counts snapshot != full recount")
    val asgRows = spark.read.parquet(s"$estore/asg").count()
    graft.streaming.StreamingDedup
      .semanticBatch(echunks(1).toDF("vec_id", "embedding"), estore, cents,
        0.35, 1)
    assert(spark.read.parquet(s"$estore/asg").count() == asgRows &&
      esnapshot() == esnap, "semantic replay must be a no-op")
  }

  test("incremental minhash dedup stream == batch LSH candidate set") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // Planted-dup corpus (same construction as the batch planted-dup
    // spec): 100 originals + 100 tail-mutated copies, streamed in FOUR
    // micro-batches ordered so every planted pair spans batches — the
    // hard case for incremental dedup. Per batch, new docs' band rows
    // join the ACCUMULATING signature store (candidates exactly once per
    // pair: new×old cross + new×new within), then append themselves —
    // the stream-static accumulation pattern a production ingest dedup
    // runs via foreachBatch.
    val base = Tables(spark, sf).documents
      .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
    val mutated = base
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(expr("substring(text, 1, length(text) - 20)"),
          lit(" zz mutated tail zz")).as("text"))
    val corpus = base.union(mutated)
    val feed = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    def bandRows(docs: org.apache.spark.sql.DataFrame) =
      operators.Dedup.minhashSignatures(docs)
        .select(col("doc_id"),
          posexplode(array((0 until 16).map(b => col(s"band$b")): _*))
            .as(Seq("bi", "bv")))
    val store = java.nio.file.Files.createTempDirectory("graft_sigs").toString
    val bandsPath = s"$store/bands"
    val found = scala.collection.mutable.Set[(Long, Long)]()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bands = bandRows(batch).persist()
        val within = bands.alias("x").join(bands.alias("y"),
            col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
        val cross =
          if (new java.io.File(bandsPath).exists) {
            val old = batch.sparkSession.read.parquet(bandsPath)
            bands.alias("x").join(old.alias("y"),
                col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
                col("x.doc_id") =!= col("y.doc_id"))
              .select(least(col("x.doc_id"), col("y.doc_id")).as("ia"),
                greatest(col("x.doc_id"), col("y.doc_id")).as("ib"))
          } else within.limit(0)
        found ++= within.union(cross).distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        bands.write.mode("append").parquet(bandsPath)
        bands.unpersist()
        ()
      }
      .start()
    try {
      feed.grouped(50).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    // equivalence: the incremental union must equal the one-shot batch
    // candidate set over the full corpus
    val all = bandRows(corpus).persist()
    val want = all.alias("x").join(all.alias("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    all.unpersist()
    assert(found.toSet == want,
      s"incremental ${found.size} pairs != batch ${want.size}")
    // and the funnel still finds the planted dups
    val planted = found.count { case (a, b) => b == a + 100000L }
    assert(planted >= 90, s"only $planted of 100 planted pairs surfaced")
  }

  test("streaming funnel state machine == batch q149 under shuffled in-batch order") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // time-ordered ACROSS batches (the feed contract), SHUFFLED within
    // each batch — the handler's in-batch sort must absorb it
    val evs = batchEvents.map(e =>
      graft.streaming.FEvent(e.event_id, e.ts, e.user_id, e.event_type))
    val batches = evs.grouped((evs.size + 3) / 4).toSeq
      .map(b => new scala.util.Random(42).shuffle(b))
    val ms = MemoryStream[graft.streaming.FEvent]
    val sink = s"funnel_spec_${System.nanoTime()}"
    val q = EventStreams.funnelAdvance(ms.toDS())
      .writeStream.outputMode("update").format("memory").queryName(sink)
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table(sink)
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("view_us"), col("click_us"),
          col("purchase_us")), col("upd")).as("s"))
        .select(col("user_id"), col("s.view_us"), col("s.click_us"),
          col("s.purchase_us"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      def us(t: java.sql.Timestamp): Long =
        if (t == null) -1L
        else t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
      val want = graft.operators.Behavioral.eventFunnel(spark, sf).collect()
        .map(r => r.getLong(0) ->
          (us(r.getTimestamp(1)), us(r.getTimestamp(2)), us(r.getTimestamp(3))))
        .toMap
      assert(got == want)
    } finally q.stop()
  }

  test("late-data audit predicts the engine's numRowsDroppedByWatermark exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // same arrival batches as the audit: event_id div (max_id div 8 + 1)
    val evs = batchEvents.sortBy(_.event_id)
    val bsz = evs.map(_.event_id).max / 8 + 1
    val batches = evs.groupBy(_.event_id / bsz).toSeq.sortBy(_._1)
    val ms = MemoryStream[Ev]
    val sink = s"late_audit_${System.nanoTime()}"
    val q = ms.toDF().withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("update").format("memory").queryName(sink)
      .start()
    try {
      val dropped = scala.collection.mutable.LinkedHashMap[Long, Long]()
      batches.foreach { case (b, rows) =>
        ms.addData(rows); q.processAllAvailable()
        q.recentProgress.foreach { p =>
          p.stateOperators.headOption.foreach { so =>
            dropped.update(p.batchId, so.numRowsDroppedByWatermark)
          }
        }
      }
      val audit = EventStreams.lateDataAudit(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // batchId b processed arrival batch b (one addData per trigger)
      audit.foreach { case (b, nLate) =>
        assert(dropped.getOrElse(b, 0L) == nLate,
          s"batch $b: engine dropped ${dropped.get(b)}, audit said $nLate " +
            s"(all: engine=$dropped audit=$audit)")
      }
    } finally q.stop()
  }

  test("late-data audit on a genuinely late feed: nonzero drops, engine-exact") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 0 (ids 0..9): 10:00–10:54 (max 10:54). batch 1: fresh rows
    // at 11:xx plus three stragglers at 09:0x whose 10-min windows closed
    // under wm = 10:54 − 30 min = 10:24 → must be dropped; the 10:25
    // straggler's window [10:20,10:30) is still OPEN (10:30 > 10:24) —
    // the boundary case the engine must keep.
    val b0 = (0L until 10L).map(i => Ev(i,
      t(f"2024-01-01 10:${i * 6}%02d:00"), i % 3, "view", 1.0, "{}"))
    val b1 = Seq(
      Ev(10L, t("2024-01-01 11:05:00"), 0L, "view", 1.0, "{}"),
      Ev(11L, t("2024-01-01 11:10:00"), 1L, "view", 1.0, "{}"),
      Ev(12L, t("2024-01-01 09:01:00"), 2L, "view", 1.0, "{}"),
      Ev(13L, t("2024-01-01 09:05:00"), 0L, "view", 1.0, "{}"),
      Ev(14L, t("2024-01-01 09:08:00"), 1L, "view", 1.0, "{}"),
      Ev(15L, t("2024-01-01 10:25:00"), 2L, "view", 1.0, "{}"))
    val all = (b0 ++ b1).toDF()
      .select(col("event_id"), col("ts"))
    // audit with batchSize 10 → arrival batches {0, 1}
    val audit = EventStreams.lateDataAuditFrom(all, nBatches = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(audit(0L) == 0L)
    assert(audit(1L) == 3L, s"expected 3 late stragglers: $audit")
    // the engine's FINAL aggregate must equal the batch aggregate over
    // exactly the rows the audit marks non-late (complete mode: the
    // memory sink holds the latest snapshot)
    val flags = EventStreams.lateFlagsFrom(all, batchSize = 10L, delayMin = 30L)
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap // event_id -> late
    val expected = (b0 ++ b1).filterNot(e => flags(e.event_id))
      .groupBy(e => e.ts.getTime / 600000L * 600000L)
      .map { case (w, rs) => w -> rs.size.toLong }
    assert(expected.values.sum == 13L, "3 of 16 rows excluded")
    val ms = MemoryStream[Ev]
    val sink = s"late_synth_${System.nanoTime()}"
    // UPDATE mode: late rows are dropped (complete mode would keep all
    // state); the sink appends each window's successive counts, and
    // counts are monotone, so the final value per window is the max
    val q = ms.toDF().withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("update").format("memory").queryName(sink)
      .start()
    try {
      Seq(b0, b1).foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table(sink).collect()
        .map(r => r.getStruct(0).getTimestamp(0).getTime -> r.getLong(1))
        .groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).max }
      assert(got == expected,
        s"engine snapshot $got != audit-predicted $expected")
    } finally q.stop()
  }

  test("streaming MV: snapshot == one-shot aggregate after EVERY batch; replays no-op") {
    import graft.streaming.StreamingMv
    val ev = Tables(spark, sf).events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val store = java.nio.file.Files
      .createTempDirectory("graft_mv_spec").toString
    def oneShot(maxChunk: Int) = ev
      .filter(pmod(col("event_id"), lit(4)) <= maxChunk)
      .select(expr("(unix_micros(ts) div 600000000) * 600").as("w"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("c")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    (0 until 4).foreach { b =>
      StreamingMv.mvBatch(
        ev.filter(pmod(col("event_id"), lit(4)) === b), store, b.toLong)
      val got = StreamingMv.mvTable(spark, store).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == oneShot(b), s"MV invariant broken after batch $b")
    }
    // replaying a committed batch must not change the view
    val before = StreamingMv.mvTable(spark, store).collect().toSeq
    StreamingMv.mvBatch(
      ev.filter(pmod(col("event_id"), lit(4)) === 2), store, 2L)
    val after = StreamingMv.mvTable(spark, store).collect().toSeq
    assert(after == before, "replay of a committed batch mutated the MV")
  }

  test("spark.graft.storeRoot: registered stream runs against a non-default root") {
    import graft.streaming.StreamingDedup
    // a cluster deployment points the streaming state stores at a shared
    // FS root via spark.graft.storeRoot; here the "shared FS" is a fresh
    // local dir NOT under java.io.tmpdir's graft_ prefix — the store and
    // feed must land under it, results unchanged vs batch q192
    val root = java.nio.file.Files
      .createTempDirectory("graft_rootspec").toString + "/nested/stores"
    spark.conf.set("spark.graft.storeRoot", root)
    try {
      val got = StreamingDedup.streamingRepeatedSpans(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = graft.operators.Dedup.repeatedSpansFrom(
          Tables(spark, sf).documents.select(col("doc_id"), col("text")))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got.nonEmpty && got == want,
        "stream against a configured root must equal batch q192")
      val created = new java.io.File(root).list().toSeq
      assert(created.exists(_.startsWith("stream_span_store-")),
        s"span store must live under the configured root: $created")
      assert(created.exists(_.startsWith("feed_spans-")),
        s"feed must live under the configured root: $created")
      // stores under a configured root are retained (shared state
      // outlives the driver): the committed artifacts are really there
      val storeDir = created.find(_.startsWith("stream_span_store-")).get
      assert(new java.io.File(s"$root/$storeDir/wcounts").exists,
        "committed store artifacts must persist under the root")
      // a second invocation gets a FRESH store dir (the
      // createTempDirectory uniqueness contract on the shared root)
      val again = StreamingDedup.streamingRepeatedSpans(spark, sf).collect()
      assert(again.nonEmpty)
      assert(new java.io.File(root).list()
        .count(_.startsWith("stream_span_store-")) == 2)
    } finally spark.conf.unset("spark.graft.storeRoot")
  }

  test("streaming token drift: frozen tokenizer flags vocabulary shift; replays no-op") {
    import graft.streaming.StreamingMv
    import spark.implicits._
    // chunk 0 trains on the {aaaa, bbbb} vocabulary — the hand-derived
    // merge ladder (a,a)/(b,b)/(aa,aa)/(bb,bb) collapses both words to
    // 1 token, then stops (no pairs left). Chunk 1 repeats the training
    // vocabulary (expansion 1×); chunks 2-3 shift to unseen 4-char
    // words, which the FROZEN rules leave at 4 tokens — the drift the
    // monitor exists to flag.
    val docs = ((0L until 20L).map(i =>
        (i, "aaaa bbbb aaaa bbbb aaaa bbbb")) ++
      (20L until 40L).map(i =>
        (i, "zzzz yyyy xxxx wwww zzzz yyyy"))).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_drift_spec").toString
    (0 until 4).foreach { b =>
      StreamingMv.driftBatch(
        docs.filter(col("doc_id") >= b * 10L &&
          col("doc_id") < (b + 1) * 10L), store, b.toLong)
    }
    def rows() = StreamingMv.driftTable(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(rows() == Seq(
      (0L, 10L, 60L, 60L), (1L, 10L, 60L, 60L),
      (2L, 10L, 60L, 240L), (3L, 10L, 60L, 240L)),
      s"drift monitor: ${rows()}")
    // replay of a committed batch must not change the monitor
    StreamingMv.driftBatch(
      docs.filter(col("doc_id") >= 10L && col("doc_id") < 20L), store, 1L)
    assert(rows() == Seq(
      (0L, 10L, 60L, 60L), (1L, 10L, 60L, 60L),
      (2L, 10L, 60L, 240L), (3L, 10L, 60L, 240L)))
  }

  test("streaming online classifier: trajectory replays in the JVM; replays no-op") {
    import graft.streaming.StreamingClassifier
    import spark.implicits._
    val docs = (0L until 12L).map(i =>
        (i, if (i % 2 == 0) "spark fast engine" else "slow legacy engine"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_clf_spec").toString
    (0 until 4).foreach { b =>
      StreamingClassifier.classifierBatch(
        docs.filter(col("doc_id") >= b * 3L &&
          col("doc_id") < (b + 1) * 3L), store, b.toLong)
    }
    def table() = StreamingClassifier.classifierTable(spark, store, docs)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      .toSeq
    val got = table()
    // independent JVM replay of the ONLINE update rule over the same
    // batch sequence (features collected once — they are q218-gated)
    val feats = operators.Classifier.labeled(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    var w = Array.fill(65)(0L)
    for (c <- 0 until 4) {
      val ids = (c * 3L until (c + 1) * 3L).toSet
      val train = feats.filter(f => ids(f._1) && f._5)
      val miss = train.groupBy(_._1).filter { case (_, rs) =>
        val m = rs.map(r => r._3 * w(r._2)).sum
        rs.head._4 * m <= 0
      }.keySet
      val delta = train.filter(f => miss(f._1))
        .groupBy(_._2).view.mapValues(rs => rs.map(r => r._4 * r._3).sum)
      w = Array.tabulate(65)(b => w(b) + delta.getOrElse(b, 0L))
    }
    val want = feats.groupBy(_._1).toSeq.map { case (id, rs) =>
      val m = rs.map(r => r._3 * w(r._2)).sum
      (id, m, if (m > 0) 1L else -1L)
    }.sortBy(_._1)
    assert(got == want, s"online trajectory diverged:\n$got\n$want")
    // the online model still separates the planted corpus
    val byId = got.map(g => g._1 -> g._3).toMap
    (0L until 12L).foreach(i =>
      assert(byId(i) == (if (i % 2 == 0) 1L else -1L)))
    // replay of a committed batch must not move the weights
    StreamingClassifier.classifierBatch(
      docs.filter(col("doc_id") >= 6L && col("doc_id") < 9L), store, 2L)
    assert(table() == got, "replay of a committed batch mutated weights")
  }

  test("classifier held-out trajectory: matches in-JVM replay; planted drift batch drops it") {
    import graft.streaming.StreamingClassifier
    import spark.implicits._
    // batches 0-2 carry the separable pattern; batch 3 is the planted
    // DRIFT batch — its held-out docs read like the learned positives
    // ("fast engine") but lack the label token, so the inherited
    // weights misclassify every one of them
    val base = (0L until 36L).map(i =>
      (i, if (i % 2 == 0) "spark fast engine" else "slow legacy engine"))
    val drift = (36L until 48L).map(i => (i, "fast engine fast"))
    val docs = (base ++ drift).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_clfho_spec").toString
    (0 until 4).foreach { b =>
      StreamingClassifier.classifierBatch(
        docs.filter(col("doc_id") >= b * 12L &&
          col("doc_id") < (b + 1) * 12L), store, b.toLong)
    }
    def table() = StreamingClassifier.classifierHeldoutTable(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val got = table()
    // independent in-JVM replay: held-out stats under the INHERITED
    // weights, then the online update — same feature collection as the
    // q220 spec
    val feats = operators.Classifier.labeled(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    var w = Array.fill(65)(0L)
    val want = (0 until 4).map { c =>
      val ids = (c * 12L until (c + 1) * 12L).toSet
      val held = feats.filter(f => ids(f._1) && !f._5).groupBy(_._1)
      val correct = held.count { case (_, rs) =>
        val m = rs.map(r => r._3 * w(r._2)).sum
        (if (m > 0) 1L else -1L) == rs.head._4
      }
      val train = feats.filter(f => ids(f._1) && f._5)
      val miss = train.groupBy(_._1).filter { case (_, rs) =>
        val m = rs.map(r => r._3 * w(r._2)).sum
        rs.head._4 * m <= 0
      }.keySet
      val delta = train.filter(f => miss(f._1))
        .groupBy(_._2).view.mapValues(rs => rs.map(r => r._4 * r._3).sum)
      w = Array.tabulate(65)(b => w(b) + delta.getOrElse(b, 0L))
      (c.toLong, correct.toLong, held.size.toLong)
    }
    assert(got == want, s"held-out trajectory diverged:\n$got\n$want")
    // the converged pre-drift batch is perfect; the drift batch craters
    def acc(r: (Long, Long, Long)) = r._2.toDouble / r._3
    assert(acc(got(2)) > acc(got(3)),
      s"drift batch must drop held-out accuracy: $got")
    assert(got(3)._2 == 0L, s"planted drift: every held-out doc wrong: $got")
    // replay of a committed batch must not touch the trajectory
    StreamingClassifier.classifierBatch(
      docs.filter(col("doc_id") >= 24L && col("doc_id") < 36L), store, 2L)
    assert(table() == got, "replay of a committed batch mutated the trajectory")
  }

  test("streaming novelty: monitor == batch q213 after EVERY batch; replays no-op") {
    import graft.streaming.StreamingMv
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val store = java.nio.file.Files
      .createTempDirectory("graft_novelty_spec").toString
    def oneShot(maxChunk: Int) = operators.TextAnalysis.noveltyScoresFrom(
        docs.filter(pmod(col("doc_id"), lit(4)) <= maxChunk))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    (0 until 4).foreach { b =>
      StreamingMv.noveltyBatch(
        docs.filter(pmod(col("doc_id"), lit(4)) === b), store, b.toLong)
      val got = StreamingMv.noveltyTable(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == oneShot(b), s"novelty monitor diverged after batch $b")
    }
    // a later copy must be able to LOWER an earlier doc's novelty (the
    // non-monotone case the recomputing readout exists for): docs with
    // novelty < 1e6 must exist once dups have streamed in
    assert(StreamingMv.noveltyTable(spark, store).collect()
      .exists(_.getLong(3) < 1000000L))
    val before = StreamingMv.noveltyTable(spark, store).collect().toSeq
    StreamingMv.noveltyBatch(
      docs.filter(pmod(col("doc_id"), lit(4)) === 1), store, 1L)
    assert(StreamingMv.noveltyTable(spark, store).collect().toSeq == before,
      "replay of a committed batch mutated the novelty monitor")
  }

  test("streaming spans: monitor == batch detector after EVERY batch; replays no-op") {
    import graft.streaming.StreamingDedup
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val store = java.nio.file.Files
      .createTempDirectory("graft_span_spec").toString
    def oneShot(maxChunk: Int) = graft.operators.Dedup.repeatedSpansFrom(
        docs.filter(pmod(col("doc_id"), lit(4)) <= maxChunk))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    (0 until 4).foreach { b =>
      StreamingDedup.spanBatch(
        docs.filter(pmod(col("doc_id"), lit(4)) === b), store, b.toLong)
      val got = StreamingDedup.spanTable(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == oneShot(b), s"span monitor diverged after batch $b")
    }
    assert(StreamingDedup.spanTable(spark, store).collect().nonEmpty,
      "fixture must actually hold repeated spans")
    val before = StreamingDedup.spanTable(spark, store).collect().toSeq
    StreamingDedup.spanBatch(
      docs.filter(pmod(col("doc_id"), lit(4)) === 2), store, 2L)
    assert(StreamingDedup.spanTable(spark, store).collect().toSeq == before,
      "replay of a committed batch mutated the span monitor")
  }

  test("streaming contamination: monitor == batch gate after EVERY batch; replays no-op") {
    import graft.streaming.StreamingMv
    import graft.operators.TextAnalysis
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val bench = TextAnalysis.docGrams(docs.filter(col("doc_id") % 5 === 0))
      .select(col("g")).distinct().persist()
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val store = java.nio.file.Files
      .createTempDirectory("graft_contam_spec").toString
    try {
      def oneShot(maxChunk: Int) = TextAnalysis.contaminationCounts(
          TextAnalysis.docGrams(
            corpus.filter(pmod(col("doc_id"), lit(4)) <= maxChunk)), bench)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0 until 4).foreach { b =>
        StreamingMv.contamBatch(
          corpus.filter(pmod(col("doc_id"), lit(4)) === b), bench, store,
          b.toLong)
        val got = StreamingMv.contamTable(spark, store).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == oneShot(b), s"contamination invariant broken after batch $b")
      }
      assert(StreamingMv.contamTable(spark, store).collect().nonEmpty,
        "fixture must actually flag contaminated docs")
      val before = StreamingMv.contamTable(spark, store).collect().toSeq
      StreamingMv.contamBatch(
        corpus.filter(pmod(col("doc_id"), lit(4)) === 1), bench, store, 1L)
      assert(StreamingMv.contamTable(spark, store).collect().toSeq == before,
        "replay of a committed batch mutated the monitor")
    } finally bench.unpersist()
  }

  test("streaming funnel on a multi-month corpus == batch (feed-ordering regression)") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // the bug class this pins: a calendar-field chunking would put the
    // Feb-02 click (day 2) in an EARLIER chunk than the Jan-20 view
    // (day 20), breaking the cross-batch event-time order the state
    // machine requires; value-range binning of the actual ts must not.
    val ev = Seq(
      (1L, t("2024-01-20 10:00:00"), 1L, "view"),
      (2L, t("2024-02-02 09:00:00"), 1L, "click"),
      (3L, t("2024-03-15 12:00:00"), 1L, "purchase"),
      (4L, t("2024-01-05 08:00:00"), 2L, "view"),
      (5L, t("2024-03-01 08:00:00"), 2L, "click"),
      // filler spreading the ts range so every month lands in its own bin
      (6L, t("2024-01-01 00:00:00"), 3L, "view"),
      (7L, t("2024-03-30 23:00:00"), 3L, "view")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventStreams.streamingFunnelFrom(ev).collect()
      .map(r => r.getLong(0) ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    val want = operators.Behavioral.eventFunnelFrom(ev).collect()
      .map(r => r.getLong(0) ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    assert(got == want, s"got $got\nwant $want")
    assert(got(1L)._3 != null, "full cross-month funnel must complete")
  }

  test("streaming funnel: pre-view click never advances, cross-batch stages chain") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[graft.streaming.FEvent]
    val sink = s"funnel_edge_${System.nanoTime()}"
    val q = EventStreams.funnelAdvance(ms.toDS())
      .writeStream.outputMode("update").format("memory").queryName(sink)
      .start()
    try {
      // batch 1: user 7 clicks BEFORE any view, then views
      ms.addData(Seq(
        graft.streaming.FEvent(1L, t("2024-01-01 09:00:00"), 7L, "click"),
        graft.streaming.FEvent(2L, t("2024-01-01 10:00:00"), 7L, "view")))
      q.processAllAvailable()
      // batch 2: the click arrives — must chain onto batch 1's view
      ms.addData(Seq(
        graft.streaming.FEvent(3L, t("2024-01-02 10:00:00"), 7L, "click")))
      q.processAllAvailable()
      val last = spark.table(sink).orderBy(col("upd").desc).head()
      assert(last.getLong(1) > 0, "view set")
      assert(last.getLong(2) > 0, "cross-batch click set")
      assert(last.getLong(3) == -1L, "no purchase")
      // the pre-view click in batch 1 must NOT have counted
      val afterB1 = spark.table(sink).filter(col("upd") === 1).head()
      assert(afterB1.getLong(2) == -1L, "pre-view click ignored")
    } finally q.stop()
  }

  test("streaming funnel: cross-batch OUT-OF-ORDER feed diverges from batch (pinned)") {
    // THE equivalence boundary, pinned both ways: greedy advance equals
    // the batch q149 min-chain iff events arrive in event-time order
    // ACROSS batches (within a batch any order — the handler sorts).
    // The registered feed guarantees cross-batch order by range-binning
    // on ts; this spec feeds the SAME three events with a late first
    // view and documents the exact divergence a production deployment
    // accepts (and repairs via the batch replay, as with the dedup
    // stores).
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      graft.streaming.FEvent(1L, t("2024-01-01 01:00:00"), 5L, "view"),
      graft.streaming.FEvent(2L, t("2024-01-01 02:00:00"), 5L, "click"),
      graft.streaming.FEvent(3L, t("2024-01-01 03:00:00"), 5L, "view"))
    // batch q149 truth: first view 01:00, first click after it 02:00
    val truth = graft.operators.Behavioral.eventFunnelFrom(
      evs.toDF().select(col("user_id"), col("event_type"), col("ts"))).head()
    assert(truth.getTimestamp(1) == t("2024-01-01 01:00:00"))
    assert(truth.getTimestamp(2) == t("2024-01-01 02:00:00"))
    def run(batches: Seq[Seq[graft.streaming.FEvent]]): (Long, Long) = {
      val ms = MemoryStream[graft.streaming.FEvent]
      val sink = s"funnel_ooo_${System.nanoTime()}"
      val q = EventStreams.funnelAdvance(ms.toDS())
        .writeStream.outputMode("update").format("memory").queryName(sink)
        .start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        val last = spark.table(sink).orderBy(col("upd").desc).head()
        (last.getLong(1), last.getLong(2))
      } finally q.stop()
    }
    def us(s: String) = t(s).getTime * 1000L
    // event-time-ordered batching: streaming ≡ batch
    val (v1, c1) = run(Seq(Seq(evs(0)), Seq(evs(1), evs(2))))
    assert(v1 == us("2024-01-01 01:00:00") && c1 == us("2024-01-01 02:00:00"))
    // OUT-OF-ORDER: the 03:00 view arrives in batch 1, the true first
    // view and the click in batch 2 — greedy locks view=03:00, so the
    // 02:00 click can never chain (click must follow the locked view):
    // view diverges from batch's 01:00 and the click stage is LOST
    val (v2, c2) = run(Seq(Seq(evs(2)), Seq(evs(0), evs(1))))
    assert(v2 == us("2024-01-01 03:00:00"),
      "late-arriving earlier view must NOT rewind the locked state")
    assert(c2 == -1L,
      "click before the locked view must NOT advance — the documented loss")
  }

  test("streaming index ingest (q226): store == one-shot encode; serve == q159; replays no-op") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val (coarse, cb) = Similarity.ivfAdcTrain(emb)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_idx_spec").toString
    // arbitrary (hash-mod) batching, deliberately different from the
    // registered range feed — parity must hold for ANY batching
    (0 until 3).foreach { i =>
      StreamingIndex.indexBatch(
        emb.filter(pmod(col("vec_id") * 7919, lit(3)) === i),
        storeDir, coarse, cb, i)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val stored = rows(StreamingIndex.indexTable(spark, storeDir))
    val oneShot = rows(Similarity.ivfAdcEncode(emb, coarse, cb))
    assert(stored.nonEmpty && stored == oneShot,
      "accumulated store must equal the one-shot encode row-for-row")
    // replaying a committed batch is a no-op (the commit-marker guard)
    StreamingIndex.indexBatch(emb.limit(0), storeDir, coarse, cb, 1L)
    assert(rows(StreamingIndex.indexTable(spark, storeDir)) == oneShot)
    // served top-k from the store == q159's one-shot output
    val served = Similarity.ivfAdcServe(
      StreamingIndex.indexTable(spark, storeDir),
      emb.filter(col("vec_id") % 50 === 0), coarse, cb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val oneShotTopk = Similarity.ivfAdcTopKFrom(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(served.nonEmpty && served.toSeq == oneShotTopk.toSeq,
      "served top-k must equal the one-shot index for any batching")
    // OVERLAPPING ingest: a later batch re-ingests a third of the
    // corpus under a NEW batch id — the store dedups on vec_id (latest
    // committed batch wins), so the read relation and the served top-k
    // stay exactly the one-shot index instead of ranking duplicates
    StreamingIndex.indexBatch(
      emb.filter(pmod(col("vec_id") * 7919, lit(3)) === 0),
      storeDir, coarse, cb, 7L)
    assert(rows(StreamingIndex.indexTable(spark, storeDir)) == oneShot,
      "overlapping replay must dedup to the one-shot store")
    val servedDup = Similarity.ivfAdcServe(
      StreamingIndex.indexTable(spark, storeDir),
      emb.filter(col("vec_id") % 50 === 0), coarse, cb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(servedDup.toSeq == oneShotTopk.toSeq,
      "served top-k must survive an overlapping replay unchanged")
  }

  test("streaming lexical index (q233): store == one-shot postings; serve == q229; overlap dedups") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamingIndex
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_lex_spec").toString
    // arbitrary hash-mod batching — posting reconstruction must hold
    // for ANY batching, not just the registered range feed
    (0 until 3).foreach { i =>
      StreamingIndex.lexIndexBatch(
        docs.filter(pmod(col("doc_id") * 7919, lit(3)) === i), storeDir, i)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    val stored = rows(StreamingIndex.lexIndexTable(spark, storeDir))
    val oneShot = rows(TextAnalysis.bm25Postings(docs))
    assert(stored.nonEmpty && stored == oneShot,
      "accumulated postings must equal the one-shot posting relation")
    // replaying a committed batch is a no-op
    StreamingIndex.lexIndexBatch(docs.limit(0), storeDir, 1L)
    assert(rows(StreamingIndex.lexIndexTable(spark, storeDir)) == oneShot)
    // a document re-ingested under a later batch id dedups per chunk —
    // df and tf must not double-count
    StreamingIndex.lexIndexBatch(
      docs.filter(pmod(col("doc_id") * 7919, lit(3)) === 0), storeDir, 9L)
    assert(rows(StreamingIndex.lexIndexTable(spark, storeDir)) == oneShot,
      "overlapping replay must dedup to the one-shot postings")
    // served ranking from the store == the one-shot q229 ranking
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val served = topk(TextAnalysis.bm25TopKFromPostings(
      StreamingIndex.lexIndexTable(spark, storeDir)))
    val direct = topk(TextAnalysis.bm25TopKFrom(docs))
    assert(served.nonEmpty && served == direct,
      "served BM25 top-k must equal the one-shot ranking for any batching")
  }

  test("lexical compaction (q246): annotated rewrite dedups; stored-rank serve == inline prune") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamingIndex
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_lex_compact_spec").toString
    (0 until 3).foreach { i =>
      StreamingIndex.lexIndexBatch(
        docs.filter(pmod(col("doc_id") * 7919, lit(3)) === i), storeDir, i)
    }
    // overlapping replay: raw store now carries duplicate posting rows
    StreamingIndex.lexIndexBatch(
      docs.filter(pmod(col("doc_id") * 7919, lit(3)) === 0), storeDir, 9L)
    val rawRows = spark.read.parquet(s"$storeDir/postings").count()
    StreamingIndex.compactLexIndex(spark, storeDir)
    val compact = StreamingIndex.compactLexTable(spark, storeDir)
    // the rewrite materialized the dedup (strictly smaller than the
    // duplicated raw store) and equals the one-shot posting relation
    assert(compact.count() < rawRows,
      s"compaction must shrink the duplicated store: ${compact.count()} vs $rawRows")
    assert(compact.select(col("cid"), col("len"), col("t"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
      == TextAnalysis.bm25Postings(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet,
      "compacted postings must equal the one-shot relation")
    // the stored prefix respects the bound: per term at most
    // Bm25PostingBound ranked rows, ranks dense from 1
    val badPrk = compact.filter(col("prk").isNotNull)
      .groupBy(col("t")).agg(count(lit(1)).as("n"), max(col("prk")).as("mx"))
      .filter(col("n") > TextAnalysis.Bm25PostingBound ||
        col("mx") =!= col("n")).count()
    assert(badPrk == 0, "stored ranks must be a dense per-term prefix")
    // the stored-rank fast path serves the SAME ranking as the inline
    // two-phase prune (and therefore as the one-shot q229)
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val servedCompact = topk(TextAnalysis.bm25TopKFromPostings(compact))
    val direct = topk(TextAnalysis.bm25TopKFrom(docs))
    assert(servedCompact.nonEmpty && servedCompact == direct,
      "stored-rank serve must equal the inline-pruned one-shot ranking")
    // asking past the stored bound must fail fast, not silently miss
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKFromPostings(compact,
        postingBound = TextAnalysis.Bm25PostingBound + 1)
    }
    // the fast path's POINT, pinned in the plan: serving from the
    // compacted store carries only the two per-QUERY windows (the
    // query-term rank and the final top-k). Counted on the optimized
    // LOGICAL plan, where a persisted frame is one InMemoryRelation
    // leaf: the serve model (idf + kept postings) is persisted per
    // posting relation and bound, so the raw path's two posting-prune
    // windows leave the per-request plan too and now live inside the
    // model's cached physical plan, read through the InMemoryRelation.
    def windowCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.length
    def relations(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
    val aqe =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // the WindowExecs the held model's cached plans carry — and the
    // serve must read that very model (shared cache builder)
    def modelWindows(postings: org.apache.spark.sql.DataFrame,
        served: org.apache.spark.sql.DataFrame): Int = {
      val (idf, kept) = TextAnalysis.bm25ServeModel(postings,
        TextAnalysis.Bm25PostingBound)
      val model = Seq(idf, kept).flatMap(relations)
      val read = relations(served).map(_.cacheBuilder)
      assert(model.size == 2 &&
        model.forall(m => read.exists(_ eq m.cacheBuilder)),
        "the serve must read the held model")
      model.map(m => aqe.collect(m.cacheBuilder.cachedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.length).sum
    }
    val fastServe = TextAnalysis.bm25TopKFromPostings(compact)
    val fastW = windowCount(fastServe)
    assert(fastW == 2,
      s"fast path must carry ONLY the two per-query windows: $fastW")
    val fastModelW = modelWindows(compact, fastServe)
    assert(fastModelW == 0,
      s"compacted store's model must filter the stored rank: $fastModelW")
    val raw = StreamingIndex.lexIndexTable(spark, storeDir)
    val rawServe = TextAnalysis.bm25TopKFromPostings(raw)
    val rawW = windowCount(rawServe)
    assert(rawW == 2,
      s"raw-store serve must carry ONLY the two per-query windows: $rawW")
    // the raw path still pays the per-term prune windows — once, in
    // building its model: the ranking work compaction moves off the
    // read path
    val rawModelW = modelWindows(raw, rawServe)
    assert(rawModelW >= 2,
      s"raw store's model must hold the per-term prune windows: $rawModelW")
  }

  test("compaction commit marker: a partial rewrite is invisible; serves fall back to the uncompacted path") {
    import graft.operators.{Similarity, TextAnalysis}
    import graft.streaming.StreamingIndex
    import org.apache.hadoop.fs.Path
    def fs(p: String) = new Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // ---- lexical side
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val lexDir = java.nio.file.Files
      .createTempDirectory("graft_lex_marker_spec").toString
    (0 until 2).foreach { i =>
      StreamingIndex.lexIndexBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === i), lexDir, i)
    }
    val direct = topk(TextAnalysis.bm25TopKFrom(docs))
    // BEFORE any compaction: compactLexTable must degrade to the
    // uncompacted path (per-read dedup + inline prune), not fail
    assert(topk(TextAnalysis.bm25TopKFromPostings(
      StreamingIndex.compactLexTable(spark, lexDir))) == direct,
      "no-compact fallback must serve the one-shot ranking")
    StreamingIndex.compactLexIndex(spark, lexDir)
    assert(StreamingIndex.compactLexTable(spark, lexDir)
      .columns.contains("prk"), "committed compact must serve fast path")
    // kill the commit marker — the snapshot is now a crashed partial
    // rewrite; serves must NOT trust it
    assert(fs(lexDir).delete(new Path(s"$lexDir/compact/b=0/_SUCCESS"), false))
    val fb = StreamingIndex.compactLexTable(spark, lexDir)
    assert(!fb.columns.contains("prk"),
      "a partial compact snapshot must be invisible to readers")
    assert(topk(TextAnalysis.bm25TopKFromPostings(fb)) == direct,
      "partial-compact fallback must serve the one-shot ranking")
    // recompact: a fresh committed snapshot lands and the fast path
    // returns, ranking unchanged
    StreamingIndex.compactLexIndex(spark, lexDir)
    val re = StreamingIndex.compactLexTable(spark, lexDir)
    assert(re.columns.contains("prk"))
    assert(topk(TextAnalysis.bm25TopKFromPostings(re)) == direct)
    // ---- dense side
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val (coarse, cb) = Similarity.ivfAdcTrain(emb)
    val annDir = java.nio.file.Files
      .createTempDirectory("graft_ann_marker_spec").toString
    (0 until 2).foreach { i =>
      StreamingIndex.indexBatch(
        emb.filter(pmod(col("vec_id"), lit(2)) === i),
        annDir, coarse, cb, i)
    }
    def serveAnn(st: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAdcServe(st, emb.filter(col("vec_id") % 50 === 0),
        coarse, cb).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val oneShot = serveAnn(StreamingIndex.indexTable(spark, annDir))
    StreamingIndex.compactIndex(spark, annDir)
    assert(fs(annDir).delete(new Path(s"$annDir/compact/b=0/_SUCCESS"), false))
    assert(serveAnn(StreamingIndex.compactTable(spark, annDir)) == oneShot,
      "dense partial-compact fallback must serve the uncompacted store")
    StreamingIndex.compactIndex(spark, annDir)
    assert(fs(annDir).exists(new Path(s"$annDir/compact/b=0/_SUCCESS")),
      "recompaction must land a committed snapshot")
    assert(serveAnn(StreamingIndex.compactTable(spark, annDir)) == oneShot,
      "recompacted serve must equal the one-shot ranking")
  }

  test("index compaction (q234): rewrite shrinks the duplicated store; serve unchanged") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val (coarse, cb) = Similarity.ivfAdcTrain(emb)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_compact_spec").toString
    (0 until 3).foreach { i =>
      StreamingIndex.indexBatch(
        emb.filter(pmod(col("vec_id") * 7919, lit(3)) === i),
        storeDir, coarse, cb, i)
    }
    // overlapping replay: a third of the corpus lands twice in the raw
    // store — the workload compaction exists for
    StreamingIndex.indexBatch(
      emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      storeDir, coarse, cb, 100L)
    StreamingIndex.compactIndex(spark, storeDir)
    val raw = spark.read.parquet(s"$storeDir/codes").count()
    val compacted = StreamingIndex.compactTable(spark, storeDir).count()
    val nv = emb.count()
    assert(raw > compacted && compacted == nv,
      s"compaction must dedup ($raw raw vs $compacted compact vs $nv vectors)")
    // serve from the compacted store == the one-shot index
    val served = Similarity.ivfAdcServe(
      StreamingIndex.compactTable(spark, storeDir),
      emb.filter(col("vec_id") % 50 === 0), coarse, cb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val oneShot = Similarity.ivfAdcTopKFrom(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(served.nonEmpty && served.toSeq == oneShot.toSeq,
      "compacted-store serve must equal the one-shot index")
  }

  test("streaming index drift (q227): planted shift flagged; matches an in-JVM replay") {
    import graft.operators.Similarity
    import graft.streaming.StreamingIndex
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val got = StreamingIndex.streamingIndexDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.length == graft.streaming.FileFeed.StreamChunks)
    // the in-snapshot chunks read CLEAN and the planted 2×-drift chunk
    // reads fully out-of-distribution — the monitor's whole point
    got.init.foreach { r => assert(r._5 == 0L, s"clean batch flagged: $r") }
    assert(got.last._5 == got.last._2,
      s"drift batch must be fully flagged: ${got.last}")
    // independent replay: frozen cells + threshold + per-chunk stats in
    // plain Scala over the collected fixture
    val (coarse, _) = Similarity.ivfAdcTrain(emb)
    val raw = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def minD(e: Array[Long]): Long = coarse.map(c =>
      e.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
    def q(x: Float, f: Float): Long =
      math.floor((x * f).toDouble * 1e6).toLong
    val thr = raw.map { case (_, v) => minD(v.map(q(_, 1.0f))) }.max
    val (lo, hi) = (raw.head._1, raw.last._1)
    val w = (hi - lo) / graft.streaming.FileFeed.StreamChunks + 1
    // drift boundary = start of the LAST feed bin — the same bin
    // arithmetic the feed itself uses, valid for any vec_id range
    val dl = lo + (graft.streaming.FileFeed.StreamChunks - 1) * w
    val want = raw.groupBy { case (id, _) => (id - lo) / w }.toSeq
      .map { case (b, vs) =>
        val ds = vs.map { case (id, v) =>
          minD(v.map(q(_, if (id >= dl) 2.0f else 1.0f))) }
        (b, vs.length.toLong, ds.sum, ds.max,
          ds.count(_ > thr).toLong)
      }.sortBy(_._1)
    assert(got == want, s"monitor diverged from the replay:\n$got\n$want")
  }

  test("index refresh (q237): drift triggers retrain+rebuild; clean stream stays frozen") {
    import graft.operators.Similarity
    import graft.streaming.{FileFeed, StreamingIndex}
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // clean stream: the monitor stays quiet, the policy must NOT
    // rebuild, and the frozen-quantizer store serves the one-shot index
    val cleanDir = java.nio.file.Files
      .createTempDirectory("graft_refresh_clean").toString
    val servedClean = topk(
      StreamingIndex.indexRefreshServe(spark, emb, emb, cleanDir))
    assert(!new java.io.File(s"$cleanDir/refresh").exists,
      "a clean stream must not trigger a rebuild")
    assert(servedClean.nonEmpty
        && servedClean == topk(Similarity.ivfAdcTopKFrom(emb)),
      "the untriggered branch serves the frozen store (q226 parity)")
    // planted drift (the registered q237 feed): the newest batch flags
    // majority-OOD, the policy retrains + rebuilds, and the refreshed
    // serve equals the ONE-SHOT index built on the drifted corpus
    val mm = emb.agg(min(col("vec_id")), max(col("vec_id"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val binW = (hi - lo) / FileFeed.StreamChunks + 1L
    val driftLo = lo + (FileFeed.StreamChunks - 1L) * binW
    val drifted = emb.select(col("vec_id"),
      transform(col("embedding"), x =>
        x * when(col("vec_id") >= driftLo, lit(2.0f)).otherwise(lit(1.0f)))
        .as("embedding"))
    val driftDir = java.nio.file.Files
      .createTempDirectory("graft_refresh_drift").toString
    val servedDrift = topk(
      StreamingIndex.indexRefreshServe(spark, emb, drifted, driftDir))
    assert(new java.io.File(s"$driftDir/refresh").exists,
      "the planted drift must trigger the rebuild")
    assert(servedDrift.nonEmpty
        && servedDrift == topk(Similarity.ivfAdcTopKFrom(drifted)),
      "the refreshed serve must equal the one-shot drifted index")
  }
}
