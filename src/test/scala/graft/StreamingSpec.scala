package graft

import java.sql.Timestamp

// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.NearDup
import graft.streaming.Streams

/** MemoryStream-driven tests for the streaming operators: window agg,
  * watermark dedup, and custom mapGroupsWithState state. */
class StreamingSpec extends SparkSpecBase {

  private def ts(hour: Int, minute: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")

  test("windowed counts aggregate by event-time tumbling window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = Streams
      .windowedCounts(in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("win").outputMode("complete")
      .start()
    try {
      in.addData((ts(1, 10), "a"), (ts(1, 20), "a"), (ts(1, 30), "b"), (ts(2, 5), "a"))
      q.processAllAvailable()
      val got = spark.table("win")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set(
        (ts(1), "a", 2L), (ts(1), "b", 1L), (ts(2), "a", 1L)))
    } finally q.stop()
  }

  test("stream-static enrich broadcasts the dimension into each micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("a", 10L), ("b", 20L)).toDF("event_type", "weight")
    val in = MemoryStream[(Timestamp, String)]
    val q = Streams
      .enrich(in.toDF().toDF("ts", "event_type"), dim, Seq("event_type"))
      .writeStream.format("memory").queryName("enriched").outputMode("append")
      .start()
    try {
      in.addData((ts(1, 10), "a"), (ts(1, 20), "b"), (ts(1, 30), "zzz"))
      q.processAllAvailable()
      in.addData((ts(2, 5), "a")) // second micro-batch joins too
      q.processAllAvailable()
      val got = spark.table("enriched")
        .collect().map { r =>
          val t = r.getString(r.fieldIndex("event_type"))
          val w = r.fieldIndex("weight")
          (t, if (r.isNullAt(w)) -1L else r.getLong(w))
        }.toList
      assert(got.count(_ == ("a", 10L)) === 2)
      assert(got.count(_ == ("b", 20L)) === 1)
      assert(got.count(_ == ("zzz", -1L)) === 1, "left join keeps unmatched")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark is the streaming dedup bag") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val q = Streams
      .dedupWithinWatermark(in.toDF().toDF("ts", "doc", "word"), Seq("doc", "word"))
      .writeStream.format("memory").queryName("dedup").outputMode("append")
      .start()
    try {
      in.addData(
        (ts(1), "d1", "w"), (ts(1, 5), "d1", "w"), // dup within watermark
        (ts(1), "d1", "x"), (ts(1), "d2", "w"))
      q.processAllAvailable()
      val got = spark.table("dedup")
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
      assert(got === Set(("d1", "w"), ("d1", "x"), ("d2", "w")))
    } finally q.stop()
  }

  test("streaming windowed counts over the events fixture equal the batch result") {
    val dir = "/root/testdata/sf0.001/events.parquet"
    val raw = spark.read.parquet(dir)
    def toTs(df: org.apache.spark.sql.DataFrame) =
      SparkEntry.normalizeEventTs(df)

    val expected = Streams.windowedCounts(toTs(raw))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    // FileStreamSource wants a directory: stream the sf dir, glob to
    // the single events file.
    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val q = Streams.windowedCounts(toTs(stream))
      .writeStream.format("memory").queryName("evwin").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("evwin")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming watermark dedup over the events fixture equals batch dropDuplicates") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def toTs(df: org.apache.spark.sql.DataFrame) =
      SparkEntry.normalizeEventTs(df)
    val keys = Seq("user_id", "event_type")

    // batch ground truth: the distinct key set (first-seen row choice is
    // engine-dependent; the dedup CONTRACT is one row per key)
    val expectedKeys = toTs(raw).select(keys.map(col): _*).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val q = Streams.dedupWithinWatermark(toTs(stream), keys)
      .writeStream.format("memory").queryName("evdedup").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("evdedup").select(keys.map(col): _*)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.length === got.toSet.size) // exactly one row per key
      assert(got.toSet === expectedKeys)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("session windows equal the batch gap sessionizer on the events fixture") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def toTs(df: org.apache.spark.sql.DataFrame) =
      SparkEntry.normalizeEventTs(df)

    // batch ground truth from the window-function sessionizer
    val expected = graft.operators.Sessions.sessionStats(toTs(raw))
      .select("user_id", "t_start", "t_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet

    // same operator, batch frame: session_window must reproduce it
    val viaSessionWindow = Streams.sessionCounts(toTs(raw))
      .collect().map(r => (r.getLong(2), r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
      .toSet
    assert(viaSessionWindow === expected && expected.nonEmpty)

    // and streamed: every session fully behind the watermark emits once
    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val q = Streams.sessionCounts(toTs(stream))
      .writeStream.format("memory").queryName("evsess").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("evsess")
        .collect().map(r => (r.getLong(2), r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
        .toSet
      // append emits only watermark-closed sessions: a SUBSET that must
      // agree row-for-row with the batch result
      assert(got.subsetOf(expected))
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("batch operators compose into streams: fingerprint + watermark dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the SAME TextAnalysis.fingerprint code runs on the stream (narrow
    // projection), its full_fp keying a watermark-scoped dedup — i.e.
    // whitespace-normalization-invariant exact dedup on a stream
    val in = MemoryStream[(Timestamp, Long, String)]
    val fp = graft.operators.TextAnalysis.fingerprint(
      in.toDF().toDF("ts", "doc_id", "text"), carryCols = Seq("ts"))
    val q = Streams.dedupWithinWatermark(fp, Seq("full_fp"))
      .writeStream.format("memory").queryName("fpdedup").outputMode("append")
      .start()
    try {
      in.addData(
        (ts(1), 1L, "a b c d"),
        (ts(1, 5), 2L, "a  b\tc d"), // same token stream → dropped
        (ts(1, 9), 3L, "x y z"))
      q.processAllAvailable()
      val got = spark.table("fpdedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 3L))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = Streams.runningCounts(in.toDS())
      .writeStream.format("memory").queryName("totals").outputMode("update")
      .start()
    try {
      in.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      in.addData(("a", 4L)) // second micro-batch accumulates onto state
      q.processAllAvailable()
      val latest = spark.table("totals")
        .groupBy("key").agg(max("total").as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(latest === Set(("a", 7L), ("b", 10L)))
    } finally q.stop()
  }

  test("timeoutSessions closes by gap on arrival and by watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val src = in.toDS().toDF("key", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(String, Timestamp)]
    val q = Streams.timeoutSessions(src, gapMs = 120000L)
      .writeStream.format("memory").queryName("tsess").outputMode("append")
      .start()
    try {
      // k1: two events 1 min apart with a 2-minute gap dial (one
      // session), then one far later in the SAME batch -> the first
      // session closes by gap immediately
      in.addData(("k1", ts(1)), ("k1", ts(1, 1)), ("k1", ts(1, 45)))
      q.processAllAvailable()
      val afterGap = spark.table("tsess").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(4))).toSet
      assert(afterGap === Set(("k1", 2L, "gap")))
      // an unrelated key far in the future advances the watermark past
      // k1's last + gap -> k1's open session must emit as "timeout"
      in.addData(("k2", ts(3)))
      q.processAllAvailable()
      in.addData(("k2", ts(4))) // one more batch so the timer fires
      q.processAllAvailable()
      val all = spark.table("tsess").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(4))).toSet
      assert(all.contains(("k1", 1L, "timeout")),
        s"open session did not time out: $all")
    } finally q.stop()
  }

  test("timeoutSessions mins t_first when a cross-batch late event predates the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val src = in.toDS().toDF("key", "ts")
      .withWatermark("ts", "30 minutes")
      .as[(String, Timestamp)]
    val q = Streams.timeoutSessions(src, gapMs = 20 * 60000L)
      .writeStream.format("memory").queryName("tsess_late").outputMode("append")
      .start()
    try {
      // batch 1 opens the session at 2:00
      in.addData(("k", ts(2)))
      q.processAllAvailable()
      // batch 2: a late-but-within-watermark event at 1:50 — predates
      // the open session's first but is within gap of its last, so it
      // must MERGE and pull t_first back to 1:50
      in.addData(("k", ts(1, 50)))
      q.processAllAvailable()
      // far-future same-key event closes the session by gap
      in.addData(("k", ts(9)))
      q.processAllAvailable()
      val got = spark.table("tsess_late").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(4)))
      val sess = got.find(_._4 == "gap").get
      assert(sess._2 === 2L, s"expected both events in the session: $got")
      assert(sess._3 === ts(1, 50).getTime,
        s"t_first must be the true earliest event: $got")
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the horizon only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val q = Streams
      .intervalJoin(
        purchases.toDF().toDF("ts", "user_id", "pid"),
        clicks.toDF().toDF("ts", "user_id", "cid"),
        keys = Seq("user_id"), horizon = "30 minutes")
      .writeStream.format("memory").queryName("attr").outputMode("append")
      .start()
    try {
      purchases.addData((ts(2), 1L, 100L), (ts(2), 2L, 200L))
      clicks.addData(
        (ts(1, 45), 1L, 7L), // 15 min before → in window
        (ts(2), 1L, 8L),     // same instant → inclusive
        (ts(1), 1L, 9L),     // 1 h before → outside horizon
        (ts(3), 1L, 10L),    // after the purchase → excluded
        (ts(1, 50), 3L, 11L)) // other user
      q.processAllAvailable()
      val got = spark.table("attr")
        .collect().map(r => (r.getLong(2), r.getLong(4))).toSet
      assert(got === Set((100L, 7L), (100L, 8L)))
      // the streamed pairs equal the equivalent batch join
      val bp = Seq((ts(2), 1L, 100L), (ts(2), 2L, 200L)).toDF("ts", "user_id", "pid")
      val bc = Seq((ts(1, 45), 1L, 7L), (ts(2), 1L, 8L), (ts(1), 1L, 9L),
        (ts(3), 1L, 10L), (ts(1, 50), 3L, 11L)).toDF("ts", "user_id", "cid")
      val batch = bp.join(bc.withColumnRenamed("ts", "rts"),
          bp("user_id") === bc("user_id") &&
            col("rts") <= bp("ts") && col("rts") >= bp("ts") - expr("INTERVAL 30 minutes"))
        .select(col("pid"), col("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === got)
    } finally q.stop()
  }

  test("ingestWordStats: AvailableNow file ingest equals the batch canonical pipeline") {
    // The reference's actual job (example/main.py:59-137): directory of
    // .txt files → word stats → file sink, here as the incremental-batch
    // streaming pipeline. Stage the corpus in a temp dir so the
    // incremental second run can add a file.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val booksDir = Paths.get(TestCorpus.booksDir)
    val work = Files.createTempDirectory("graft_ingest")
    val (inDir, outDir, ckpt) =
      (work.resolve("in"), work.resolve("out"), work.resolve("ckpt"))
    Files.createDirectories(inDir)
    val books = Files.list(booksDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".txt")).sortBy(_.toString)
    assert(books.length >= 2)
    // first tranche: all but the last book
    books.dropRight(1).foreach(p =>
      Files.copy(p, inDir.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))

    val q1 = Streams.ingestWordStats(
      spark, inDir.toString, outDir.toString, ckpt.toString)
    q1.awaitTermination()

    def batchStats(dir: String) = {
      // same provenance channel as the stream (_metadata.file_path):
      // input_file_name() renders file:///… vs _metadata's file:/…, and
      // the `file` projection keys off path components
      val docs = spark.read
        .option("wholetext", "true").option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt").text(dir)
        .select(col("_metadata.file_path").as("file_path"),
          col("value").as("content"))
      graft.operators.WordStats(docs, idCol = "file_path", textCol = "content")
        .withColumn("file", graft.functions.Scalars.truncate269(
          graft.functions.Scalars.lastPathComponents(col("file_path"), 5)))
        .select("word", "word_len", "word_truncated", "file", "words_count")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getString(3), r.getLong(4))).toSet

    val streamed1 = rows(spark.read.parquet(outDir.toString))
    assert(streamed1 === rows(batchStats(inDir.toString)))
    assert(streamed1.nonEmpty)

    // second tranche: ONE new file arrives; the rerun must process only
    // the increment (checkpoint-tracked) and the union must equal the
    // batch result over the whole directory
    Files.copy(books.last, inDir.resolve(books.last.getFileName))
    val q2 = Streams.ingestWordStats(
      spark, inDir.toString, outDir.toString, ckpt.toString)
    q2.awaitTermination()

    val streamed2 = rows(spark.read.parquet(outDir.toString))
    assert(streamed2 === rows(batchStats(inDir.toString)))
    val increment = streamed2 -- streamed1
    assert(increment.nonEmpty)
    // every appended row belongs to the new file only: incremental cost
    assert(increment.map(_._4).forall(_.endsWith(books.last.getFileName.toString)))
    // and rows from tranche 1 were not rewritten
    assert(streamed1.subsetOf(streamed2))
  }

  test("foreachBatch + Cdc.upsert maintains a live snapshot from a change stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (id, v, is_delete, seq): CDC streams carry a change sequence
    // (offset/LSN) — it is what "latest per key" must order by
    val changes = MemoryStream[(Long, String, Boolean, Long)]
    @volatile var snapshot =
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").collect().toSeq // seed rows
    def snapDf = {
      val s = spark
      import s.implicits._
      snapshot.map(r => (r.getLong(0), r.getString(1))).toDF("id", "v")
    }
    val q = changes.toDF().toDF("id", "v", "is_delete", "seq")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // per micro-batch: HIGHEST-seq change per key wins, then merge
        val latest = batch.groupBy(col("id"))
          .agg(max_by(struct(col("v"), col("is_delete")), col("seq")).as("c"))
          .select(col("id"), col("c.v").as("v"), col("c.is_delete").as("is_delete"))
        snapshot = graft.operators.Cdc
          .upsert(snapDf, latest, Seq("id"), Some("is_delete"))
          .collect().toSeq
        ()
      }
      .start()
    try {
      // one batch holding TWO changes for id 2: the update (seq 1) must
      // lose to the later re-update (seq 2)
      changes.addData((2L, "WRONG", false, 1L), (2L, "b2", false, 2L),
        (3L, "c", false, 3L))
      q.processAllAvailable()
      // and a same-batch insert-then-tombstone for id 1: tombstone wins
      changes.addData((1L, "resurrected", false, 4L), (1L, "", true, 5L))
      q.processAllAvailable()
      val got = snapshot.map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((2L, "b2"), (3L, "c")))
    } finally q.stop()
  }

  test("chained stream-stream interval joins form a streaming funnel") {
    // view → click → purchase entirely in one streaming pipeline: two
    // stateful joins back to back (multiple stateful operators), each
    // with its two-sided time bound so BOTH state stores evict.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val views = MemoryStream[(Timestamp, Long, Long)]
    val stage1 = Streams.intervalJoin(
      purchases.toDF().toDF("ts", "user_id", "pid"),
      clicks.toDF().toDF("ts", "user_id", "cid"),
      keys = Seq("user_id"), horizon = "30 minutes")
    // stage 2 joins on the CLICK's event time: rts (the click ts) is
    // already watermarked from stage 1's right side, and intervalJoin
    // keeps that watermark instead of redefining it
    // demote the purchase ts to a plain value column (a stream may
    // carry at most ONE event-time column into the next stateful op) —
    // the unix↔timestamp round trip drops the event-time metadata
    val clickTimed = stage1
      .withColumn("pts", timestamp_micros(unix_micros(col("ts"))))
      .drop("ts")
      .withColumnRenamed("rts", "ts")
    val stage2 = Streams.intervalJoin(
      clickTimed,
      views.toDF().toDF("ts", "user_id", "vid"),
      keys = Seq("user_id"), horizon = "30 minutes")
    val q = stage2
      .writeStream.format("memory").queryName("funnel").outputMode("append")
      .start()
    try {
      views.addData(
        (ts(1, 20), 1L, 70L),  // 25 min before the click → in window
        (ts(0, 30), 1L, 71L))  // 75 min before the click → evictable, out
      clicks.addData((ts(1, 45), 1L, 7L), (ts(1, 45), 2L, 8L)) // user 2: no view
      purchases.addData((ts(2), 1L, 100L), (ts(2), 2L, 200L))
      q.processAllAvailable()
      val got = spark.table("funnel")
        .select("pid", "cid", "vid")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // only the full view→click→purchase chain for user 1 survives
      assert(got === Set((100L, 7L, 70L)))
    } finally q.stop()
  }

  /** Write `df` as one parquet file inside the landing dir (streaming
    * file sources track individual files; a tranche = one new file). */
  private def stageTranche(
      df: org.apache.spark.sql.DataFrame,
      inDir: java.nio.file.Path,
      tag: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = Files.createTempDirectory(s"graft_tranche_$tag")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.list(tmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, inDir.resolve(s"$tag-${p.getFileName}"),
        StandardCopyOption.REPLACE_EXISTING))
  }

  test("ingestIndexCodes maintains the IVF-PQ tables; served search equals inline") {
    import java.nio.file.Files
    import graft.operators.Embeddings
    val work = Files.createTempDirectory("graft_idx_ingest")
    val inDir = work.resolve("in"); Files.createDirectories(inDir)
    val (outPath, ckpt) = (work.resolve("codes").toString, work.resolve("ckpt").toString)
    val (icentsPath, pcentsPath) =
      (work.resolve("icents").toString, work.resolve("pcents").toString)

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val t1 = emb.where(col("vec_id") % 2 === 0)
    val t2 = emb.where(col("vec_id") % 2 === 1)
    val step = 20L

    // train + freeze both index artifacts from the initial corpus
    Embeddings.ivfCentroids(t1, step).write.parquet(icentsPath)
    Embeddings.pqCentroids(t1, step).write.parquet(pcentsPath)

    stageTranche(t1, inDir, "t1")
    Streams.ingestIndexCodes(spark, inDir.toString, icentsPath, pcentsPath,
      outPath, ckpt).awaitTermination()
    val afterT1 = spark.read.parquet(outPath)
    assert(afterT1.select("vec_id").distinct().count() === t1.count())

    stageTranche(t2, inDir, "t2")
    Streams.ingestIndexCodes(spark, inDir.toString, icentsPath, pcentsPath,
      outPath, ckpt).awaitTermination()

    val maintained = spark.read.parquet(outPath)
    // the increment run assigned ONLY tranche 2 (checkpoint-tracked);
    // NB the partition column reads back as its directory-inferred type
    val lastBatch = maintained
      .agg(max(col("batch_id").cast("long"))).head().getLong(0)
    assert(maintained.where(col("batch_id") === lastBatch)
      .select("vec_id").distinct().count() === t2.count())

    // maintained tables == one-shot batch assignment of the union
    // against the same frozen artifacts
    val icents = spark.read.parquet(icentsPath)
    val pcents = spark.read.parquet(pcentsPath)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "sub", "code")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cellSet(maintained) === cellSet(Embeddings.ivfAssign(emb, icents)))
    assert(codeSet(maintained) === codeSet(Embeddings.pqEncode(emb, pcents)))

    // and the SERVE path over the maintained tables is bit-identical to
    // the inline frozen-artifact search over the union corpus
    val pred = col("vec_id") % 40 === 0
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val served = Embeddings.annIvfPqServe(
      emb.filter(pred), icents, pcents,
      maintained.select("vec_id", "cell").distinct(),
      maintained.select("vec_id", "sub", "code"))
    val inline = Embeddings.annIvfPqWith(emb, pred, icents, pcents)
    assert(resultSet(served) === resultSet(inline))
    assert(resultSet(served).nonEmpty)
  }

  test("ingestNearDup: per-batch pair partitions union to the one-shot batch result") {
    import java.nio.file.Files
    import spark.implicits._
    val work = Files.createTempDirectory("graft_nd_ingest")
    val inDir = work.resolve("in"); Files.createDirectories(inDir)
    val (statePath, outPairs, ckpt) = (work.resolve("state").toString,
      work.resolve("pairs").toString, work.resolve("ckpt").toString)

    // 17-token docs: one final-token edit keeps n-gram Jaccard at
    // 14/16 = 875 per-mille — above the 800 confirm threshold
    val d1 = (1L, "the quick brown fox jumps over the lazy dog while the moon rises over the far hill")
    val d2 = (2L, "the quick brown fox jumps over the lazy dog while the moon rises over the far ridge")
    val d3 = (3L, "entirely different base material about spark catalyst optimizer rules and tungsten codegen stages in the engine")
    val d4 = (4L, "entirely different base material about spark catalyst optimizer rules and tungsten codegen stages in the engines")
    val d5 = (5L, "wholly unrelated fresh content streaming in now with nothing shared")

    // tranche 1 carries a WITHIN-tranche pair (1,2); tranche 2's doc 4
    // pairs CROSS-tranche with doc 3
    stageTranche(Seq(d1, d2, d3).toDF("doc_id", "text"), inDir, "t1")
    Streams.ingestNearDup(spark, inDir.toString, statePath, outPairs, ckpt)
      .awaitTermination()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard_x1000")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val afterT1 = pairSet(spark.read.parquet(outPairs))
    assert(afterT1.map(p => (p._1, p._2)) === Set((1L, 2L)))

    stageTranche(Seq(d4, d5).toDF("doc_id", "text"), inDir, "t2")
    Streams.ingestNearDup(spark, inDir.toString, statePath, outPairs, ckpt)
      .awaitTermination()

    val streamed = spark.read.parquet(outPairs)
    // the increment batch emitted ONLY the cross-tranche pair
    val lastBatch = streamed
      .agg(max(col("batch_id").cast("long"))).head().getLong(0)
    assert(pairSet(streamed.where(col("batch_id") === lastBatch))
      .map(p => (p._1, p._2)) === Set((3L, 4L)))
    // union over batches == the one-shot batch MinHash pass over the
    // full corpus, jaccard values included
    val oneShot = pairSet(graft.operators.NearDup.minHashPairs(
      Seq(d1, d2, d3, d4, d5).toDF("doc_id", "text")))
    assert(pairSet(streamed) === oneShot)
    assert(oneShot.nonEmpty)
  }

  test("ingestDecontam: per-tranche clean partitions union to the one-shot fuzzy scrub") {
    import java.nio.file.Files
    import spark.implicits._
    val work = Files.createTempDirectory("graft_dc_ingest")
    val inDir = work.resolve("in"); Files.createDirectories(inDir)
    val (outClean, ckpt) =
      (work.resolve("clean").toString, work.resolve("ckpt").toString)

    // benchmark doc 100; doc 1 is its near-dup (one final-token edit →
    // Jaccard 875‰ ≥ 800), docs 2/3 are unrelated; doc 3 arrives in a
    // LATER tranche and must also pass the same gate
    val bench = Seq((100L,
      "the quick brown fox jumps over the lazy dog while the moon rises over the far hill"))
      .toDF("doc_id", "text")
    val d1 = (1L, "the quick brown fox jumps over the lazy dog while the moon rises over the far ridge")
    val d2 = (2L, "entirely different base material about spark catalyst optimizer rules and tungsten codegen stages")
    val d3 = (3L, "wholly unrelated fresh content streaming in now with nothing shared")

    stageTranche(Seq(d1, d2).toDF("doc_id", "text"), inDir, "t1")
    Streams.ingestDecontam(spark, inDir.toString, bench, outClean, ckpt)
      .awaitTermination()
    stageTranche(Seq(d3).toDF("doc_id", "text"), inDir, "t2")
    Streams.ingestDecontam(spark, inDir.toString, bench, outClean, ckpt)
      .awaitTermination()

    val streamedClean = spark.read.parquet(outClean)
      .select("doc_id").as[Long].collect().toSet
    assert(streamedClean === Set(2L, 3L)) // doc 1 scrubbed at the gate
    // union over tranches == the one-shot fuzzy scrub of the full corpus
    val oneShot = graft.operators.Curation.decontaminateFuzzy(
        Seq(d1, d2, d3).map(identity).toDF("doc_id", "text")
          .unionByName(bench),
        col("doc_id") === 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(streamedClean === oneShot)
  }

  test("ingestPHash: per-batch pair partitions union to the one-shot batch result") {
    import java.nio.file.Files
    import spark.implicits._
    val work = Files.createTempDirectory("graft_ph_ingest")
    val inDir = work.resolve("in"); Files.createDirectories(inDir)
    val (statePath, outPairs, ckpt) = (work.resolve("state").toString,
      work.resolve("pairs").toString, work.resolve("ckpt").toString)

    // deterministic ~320-byte payloads; a twin = the same bytes with
    // one byte overwritten, which flips <= 2 sample windows per grid —
    // far inside the Hamming <= 6 cutoff on both signatures
    def payload(seed: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Iterator.iterate(md.digest(Array(seed.toByte)))(md.digest)
        .take(10).flatten.toArray
    }
    def twin(p: Array[Byte]): Array[Byte] = {
      val t = p.clone(); t(11) = 0x00; t
    }
    val p1 = payload(1); val p2 = twin(p1)
    val p3 = payload(2); val p4 = twin(p3)
    val p5 = payload(3)

    // tranche 1 carries the WITHIN-tranche twin pair (1,2); tranche 2's
    // doc 4 pairs CROSS-tranche with doc 3
    stageTranche(Seq((1L, p1), (2L, p2), (3L, p3)).toDF("doc_id", "payload"),
      inDir, "t1")
    Streams.ingestPHash(spark, inDir.toString, statePath, outPairs, ckpt)
      .awaitTermination()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "hamming_dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val afterT1 = pairSet(spark.read.parquet(outPairs))
    assert(afterT1.map(p => (p._1, p._2)) === Set((1L, 2L)))

    stageTranche(Seq((4L, p4), (5L, p5)).toDF("doc_id", "payload"),
      inDir, "t2")
    Streams.ingestPHash(spark, inDir.toString, statePath, outPairs, ckpt)
      .awaitTermination()

    val streamed = spark.read.parquet(outPairs)
    // the increment batch emitted ONLY the cross-tranche pair
    val lastBatch = streamed
      .agg(max(col("batch_id").cast("long"))).head().getLong(0)
    assert(pairSet(streamed.where(col("batch_id") === lastBatch))
      .map(p => (p._1, p._2)) === Set((3L, 4L)))
    // union over batches == the one-shot batch pHash pass over the full
    // corpus, hamming distances included
    val oneShot = pairSet(graft.operators.Multimodal.pHashPairs(
      Seq((1L, p1), (2L, p2), (3L, p3), (4L, p4), (5L, p5))
        .toDF("doc_id", "payload")))
    assert(pairSet(streamed) === oneShot)
    assert(oneShot.nonEmpty)
  }

  test("ingestErLinks: per-batch link partitions union to the one-shot fuzzyPairs") {
    import java.nio.file.Files
    import spark.implicits._
    val work = Files.createTempDirectory("graft_er_ingest")
    val inDir = work.resolve("in"); Files.createDirectories(inDir)
    val (statePath, outLinks, ckpt) = (work.resolve("state").toString,
      work.resolve("links").toString, work.resolve("ckpt").toString)

    // tranche 1 carries a WITHIN-tranche fuzzy pair (1,2: one
    // substitution); tranche 2's record 4 links CROSS-tranche to 3
    // (insertion), record 5 matches nothing
    val r1 = (1L, "acme-corp"); val r2 = (2L, "acme-carp")
    val r3 = (3L, "globex"); val r4 = (4L, "globexx")
    val r5 = (5L, "initech")

    stageTranche(Seq(r1, r2, r3).toDF("id", "name"), inDir, "t1")
    Streams.ingestErLinks(spark, inDir.toString, statePath, outLinks, ckpt)
      .awaitTermination()
    def linkSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(linkSet(spark.read.parquet(outLinks)) === Set((1L, 2L, 1)))

    stageTranche(Seq(r4, r5).toDF("id", "name"), inDir, "t2")
    Streams.ingestErLinks(spark, inDir.toString, statePath, outLinks, ckpt)
      .awaitTermination()

    val streamed = spark.read.parquet(outLinks)
    val lastBatch = streamed
      .agg(max(col("batch_id").cast("long"))).head().getLong(0)
    // the increment batch emitted ONLY the cross-tranche link
    assert(linkSet(streamed.where(col("batch_id") === lastBatch))
      === Set((3L, 4L, 1)))
    // union over batches == the one-shot blocked fuzzy self-match
    val oneShot = linkSet(graft.operators.Er.fuzzyPairs(
      Seq(r1, r2, r3, r4, r5).toDF("id", "name"), "id", "name"))
    assert(linkSet(streamed) === oneShot)
    assert(oneShot === Set((1L, 2L, 1), (3L, 4L, 1)))
  }

  test("ingestClusters: maintained snapshot equals one-shot resolve tranche by tranche; old snapshots pruned") {
    import java.nio.file.Files
    import spark.implicits._
    val work = Files.createTempDirectory("graft_cc_ingest")
    val inDir = work.resolve("in"); Files.createDirectories(inDir)
    val (statePath, ckpt) = (work.resolve("state").toString,
      work.resolve("ckpt").toString)

    def snapshot(): Set[(Long, Long, Long, Boolean)] = {
      val df = spark.read.parquet(statePath)
      val last = df.agg(max(col("batch_id").cast("long"))).head().getLong(0)
      df.where(col("batch_id").cast("long") === last)
        .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
    }
    def oneShot(pairs: Seq[(Long, Long)]) =
      graft.operators.DedupClusters.resolve(pairs.toDF("doc_a", "doc_b"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet

    // t1: two clusters; t2 bridges them via 3-8 and starts a disjoint
    // one (20,21); t3 extends the merged cluster — each tranche the
    // snapshot must equal the one-shot resolve over all pairs so far
    val t1 = Seq((1L, 2L), (2L, 3L), (8L, 9L))
    val t2 = Seq((3L, 8L), (20L, 21L))
    val t3 = Seq((9L, 30L))
    stageTranche(t1.toDF("doc_a", "doc_b"), inDir, "t1")
    Streams.ingestClusters(spark, inDir.toString, statePath, ckpt)
      .awaitTermination()
    assert(snapshot() === oneShot(t1))

    stageTranche(t2.toDF("doc_a", "doc_b"), inDir, "t2")
    Streams.ingestClusters(spark, inDir.toString, statePath, ckpt)
      .awaitTermination()
    assert(snapshot() === oneShot(t1 ++ t2))

    stageTranche(t3.toDF("doc_a", "doc_b"), inDir, "t3")
    Streams.ingestClusters(spark, inDir.toString, statePath, ckpt)
      .awaitTermination()
    assert(snapshot() === oneShot(t1 ++ t2 ++ t3))
    assert(snapshot().contains((1L, 1L, 6L, true))) // {1,2,3,8,9,30}

    // pruning: at most the prior the last batch read + the latest
    val kept = new java.io.File(statePath).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted
    assert(kept.length <= 2, s"expected <= 2 snapshots kept, got ${kept.mkString(",")}")
  }

  test("ingestDomainCap: snapshot equals one-shot domainCap tranche by tranche; snapshots pruned") {
    import java.nio.file.Files
    import spark.implicits._
    val work = Files.createTempDirectory("graft_domcap_ingest")
    val inDir = work.resolve("in"); Files.createDirectories(inDir)
    val (statePath, ckpt) = (work.resolve("state").toString,
      work.resolve("ckpt").toString)
    val k = 2

    def doc(id: Long, dom: String, good: Boolean) =
      (id, dom, if (good) "the cat and the dog are on the mat with the hat"
        else "x9$ 77## @@q 123 456 789 000 %%% !!! ???")
    val t1 = Seq(doc(1, "a", true), doc(2, "a", false), doc(3, "a", true),
      doc(4, "b", false))
    val t2 = Seq(doc(5, "a", true), doc(6, "b", true), doc(7, "c", false))
    val t3 = Seq(doc(8, "c", true), doc(9, "a", false))

    def snapshot(): Set[(Long, String, Long, Long)] = {
      val df = spark.read.parquet(statePath)
      val last = df.agg(max(col("batch_id").cast("long"))).head().getLong(0)
      df.where(col("batch_id").cast("long") === last)
        .select("doc_id", "source", "score_milli", "domain_rank")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    }
    def oneShot(xs: Seq[(Long, String, String)]) =
      graft.operators.Curation.domainCap(xs.toDF("doc_id", "source", "text"), k)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet

    stageTranche(t1.toDF("doc_id", "source", "text"), inDir, "t1")
    Streams.ingestDomainCap(spark, inDir.toString, statePath, ckpt, k)
      .awaitTermination()
    assert(snapshot() === oneShot(t1))
    // the persisted snapshot's rank is LongType — the empty-prior
    // template (lit(0L)) and topKPerKey's cast must agree, pinned here
    // so neither side can drift and reconcile via union coercion
    assert(spark.read.parquet(statePath).schema("domain_rank").dataType ===
      org.apache.spark.sql.types.LongType)

    stageTranche(t2.toDF("doc_id", "source", "text"), inDir, "t2")
    Streams.ingestDomainCap(spark, inDir.toString, statePath, ckpt, k)
      .awaitTermination()
    assert(snapshot() === oneShot(t1 ++ t2))

    stageTranche(t3.toDF("doc_id", "source", "text"), inDir, "t3")
    Streams.ingestDomainCap(spark, inDir.toString, statePath, ckpt, k)
      .awaitTermination()
    assert(snapshot() === oneShot(t1 ++ t2 ++ t3))
    // the cap bites across tranches: domain a saw 5 docs, snapshot has 2
    assert(snapshot().count(_._2 == "a") === k)

    val kept = new java.io.File(statePath).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted
    assert(kept.length <= 2, s"expected <= 2 snapshots kept, got ${kept.mkString(",")}")
  }

  test("compactStore: incremental results bit-identical across compaction; files drop to group count") {
    import java.nio.file.Files
    import spark.implicits._
    // same 17-token edit-pair scheme as the ingestNearDup test
    val d1 = (1L, "the quick brown fox jumps over the lazy dog while the moon rises over the far hill")
    val d2 = (2L, "entirely different base material about spark catalyst optimizer rules and tungsten codegen stages in the engine")
    val d3 = (3L, "wholly unrelated fresh content streaming in now with nothing shared")
    val d4 = (4L, "completely separate third subject concerning parquet row groups and min max statistics for pruning scans")
    // t4's doc pairs CROSS-tranche with t1's doc 1 — the increment that
    // must be served FROM THE COMPACTED prior state
    val d5 = (5L, "the quick brown fox jumps over the lazy dog while the moon rises over the far ridge")
    val tranches = Seq(Seq(d1, d2), Seq(d3), Seq(d4), Seq(d5))

    def runPipeline(tag: String, compactAfter: Option[Int]): (String, String) = {
      val work = Files.createTempDirectory(s"graft_compact_$tag")
      val inDir = work.resolve("in"); Files.createDirectories(inDir)
      val (statePath, outPairs, ckpt) = (work.resolve("state").toString,
        work.resolve("pairs").toString, work.resolve("ckpt").toString)
      tranches.zipWithIndex.foreach { case (docs, i) =>
        stageTranche(docs.toDF("doc_id", "text"), inDir, s"t$i")
        Streams.ingestNearDup(spark, inDir.toString, statePath, outPairs, ckpt)
          .awaitTermination()
        if (compactAfter.contains(i)) {
          val m = Streams.compactStore(spark, s"$statePath/sigs", 512L * 1024)
            .collect()
          // everything is tiny ⇒ ONE rewrite group, ONE output file
          assert(m.map(r => (r.getString(0), r.getLong(1))).toSeq
            === Seq((s"$statePath/sigs#0", 1L)))
          assert(Streams.compactStore(spark, s"$statePath/docs", 512L * 1024)
            .count() === 1)
          // back-to-back call is a stable no-op (gain guard)
          assert(Streams.compactStore(spark, s"$statePath/sigs", 512L * 1024)
            .count() === 0)
          // batches 0..i-1 folded into one partition; batch i untouched
          def dirs(p: String) = new java.io.File(p).listFiles()
            .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
            .map(_.getName).toSet
          assert(dirs(s"$statePath/sigs")
            === Set(s"batch_id=${i - 1}", s"batch_id=$i"))
          // file count in the folded partition = the plan's group count
          assert(new java.io.File(s"$statePath/sigs/batch_id=${i - 1}")
            .listFiles().count(_.getName.endsWith(".parquet")) === 1)
        }
      }
      (statePath, outPairs)
    }

    val (_, controlPairs) = runPipeline("control", None)
    val (stateB, compactedPairs) = runPipeline("compacted", Some(2))

    def rows(path: String) = spark.read.parquet(path)
      .select(col("batch_id").cast("long"), col("doc_a"), col("doc_b"),
        col("jaccard_x1000"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // bit-identical incremental results, batch attribution included —
    // and the final batch DID find the cross-tranche pair (1,5) against
    // compacted prior signatures
    assert(rows(compactedPairs) === rows(controlPairs))
    assert(rows(compactedPairs).exists(r => r._2 == 1L && r._3 == 5L && r._1 == 3L))
    // the compacted sig store still holds every signature row
    assert(spark.read.parquet(s"$stateB/sigs").count()
      === spark.read.parquet(s"$stateB/sigs").dropDuplicates().count())
  }

  test("compactStore recovery: a marked-but-uncommitted compaction is finished by the next call") {
    import graft.operators.Layout
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_compact_rec")
      .resolve("store").toString
    (0 to 2).foreach { i =>
      Seq((i.toLong, s"v$i"), (i.toLong + 10, s"w$i")).toDF("k", "v")
        .coalesce(1)
        .withColumn("batch_id", lit(i))
        .write.mode("append").partitionBy("batch_id").parquet(store)
    }
    val before = spark.read.parquet(store)
      .select("k", "v", "batch_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    // stage EXACTLY as compactStore stages, then "crash" before commit:
    // staged groups + _COMMIT marker present, store dirs untouched
    val staging = s"$store/_compact_staging"
    val files = Seq(0L, 1L)
      .map(id => Layout.listFiles(spark, s"$store/batch_id=$id"))
      .reduce(_ unionByName _)
      .withColumn("dir", lit(store))
    Layout.compact(spark, Layout.compactionPlan(files, 512L * 1024), staging)
    val targetFiles = Layout.listFiles(spark, s"$store/batch_id=1")
      .select("path").as[String].collect().sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging, "_COMMIT"),
      ((Seq(s"TARGET $store/batch_id=1", s"SOURCE $store/batch_id=0") ++
        targetFiles.map(p => s"SOURCEFILE $p")) :+ "END")
        .mkString("\n").getBytes("UTF-8"))
    assert(new java.io.File(s"$store/batch_id=0").exists())

    // next call finishes the pending commit, then no-ops (gain guard)
    assert(Streams.compactStore(spark, store, 512L * 1024).count() === 0)
    val after = spark.read.parquet(store)
      .select("k", "v", "batch_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === before)
    assert(!new java.io.File(s"$store/batch_id=0").exists())
    assert(!new java.io.File(staging).exists())
    assert(new java.io.File(s"$store/batch_id=1")
      .listFiles().count(_.getName.endsWith(".parquet")) === 1)
  }

  test("compactStore recovery: an END-less marker (interrupted MARK) restages, store untouched") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_compact_trunc")
      .resolve("store").toString
    (0 to 2).foreach { i =>
      Seq((i.toLong, s"v$i"), (i.toLong + 10, s"w$i")).toDF("k", "v")
        .coalesce(1)
        .withColumn("batch_id", lit(i))
        .write.mode("append").partitionBy("batch_id").parquet(store)
    }
    val before = spark.read.parquet(store)
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // a truncated marker: MARK crashed mid-write — no END sentinel, and
    // (worst case) not even a TARGET line survives
    val staging = java.nio.file.Paths.get(s"$store/_compact_staging")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("_COMMIT"),
      "SOURCE garbage-that-must-not-run".getBytes("UTF-8"))
    // the next call must NOT execute the garbage runbook: it drops the
    // staging leftovers and compacts from scratch (folding 0+1 into 1)
    assert(Streams.compactStore(spark, store, 512L * 1024).count() >= 1)
    val after = spark.read.parquet(store)
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === before)
    assert(!java.nio.file.Files.exists(staging))
    assert(new java.io.File(s"$store/batch_id=2").exists()) // current batch untouched
  }

  test("foreachBatch + minHashPairsBetween dedups an ingest stream against the base corpus") {
    // The daily-ingest near-dup shape run as a stream: each micro-batch
    // of arriving docs is paired against the STATIC accumulated corpus
    // only (never batch×batch or corpus re-paired with itself), exactly
    // the neardup_incremental recurring-cost contract — here through
    // foreachBatch so the batch operator IS the streaming operator.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 17/16-token docs: a single final-token edit keeps Jaccard at
    // 14/16 = 875 and 13/15 = 866 per-mille — above the 800 threshold
    val base = Seq(
      (10L, "the quick brown fox jumps over the lazy dog while the moon rises over the far hill"),
      (20L, "entirely different base material about spark catalyst optimizer rules and tungsten codegen stages in the engine"))
      .toDF("doc_id", "text")
    val arrivals = MemoryStream[(Long, String)]
    @volatile var flagged = Set.empty[(Long, Long)]
    val q = arrivals.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        flagged = flagged ++ NearDup
          .minHashPairsBetween(base, batch)
          .select("doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }
      .start()
    try {
      // batch 1: a near-copy of base doc 10 (one token changed) and an
      // unrelated doc — only the near-copy may pair
      arrivals.addData(
        (100L, "the quick brown fox jumps over the lazy dog while the moon rises over the far ridge"),
        (101L, "wholly unrelated fresh content streaming in now"))
      q.processAllAvailable()
      assert(flagged === Set((10L, 100L)))
      // batch 2: a near-copy of base doc 20 — accumulates, and batch 1
      // results are not disturbed (batches are independent increments)
      arrivals.addData(
        (200L, "entirely different base material about spark catalyst optimizer rules and tungsten codegen stages in the engines"))
      q.processAllAvailable()
      assert(flagged === Set((10L, 100L), (20L, 200L)))
      // cross-check: the streamed union equals the one-shot batch call
      val oneShot = NearDup.minHashPairsBetween(
        base,
        Seq((100L, "the quick brown fox jumps over the lazy dog while the moon rises over the far ridge"),
          (101L, "wholly unrelated fresh content streaming in now"),
          (200L, "entirely different base material about spark catalyst optimizer rules and tungsten codegen stages in the engines"))
          .toDF("doc_id", "text"))
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flagged === oneShot)
    } finally q.stop()
  }
}
