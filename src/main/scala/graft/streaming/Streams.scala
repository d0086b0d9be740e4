package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured Streaming forms of the engine's operators — the
  * reference is batch-only (bounded input, run-to-completion; its
  * multiprocessing queues are plumbing, not a streaming semantic —
  * SURVEY §1.1), so these are capability extensions: the same logical
  * operators under `readStream`/`writeStream` with event-time
  * semantics.
  *
  * Everything here is a plain DataFrame/Dataset transform — the
  * streaming-ness comes from the source; the window aggregation also
  * runs unchanged on a batch frame (same code path as the
  * events_window query).
  */
object Streams {

  /** Event-time tumbling-window aggregation with a watermark — the
    * streaming form of the events_window query. Late rows beyond
    * `lateness` are dropped and window state is reclaimed, which is
    * what makes the aggregation runnable forever at 100 TB/day: state
    * is bounded by (watermark horizon × keys), not by stream length.
    */
  /** Stream-static enrichment — join each micro-batch against a
    * (small) static dimension with an explicit broadcast: the standard
    * lookup-enrichment shape (event type → weight/category, doc source
    * → license). Stateless: no watermark, no state store — Spark plans
    * a per-batch broadcast hash join, so the stream side never
    * shuffles and the dimension is shipped once per executor. The
    * static side is re-read per trigger only if its source changes
    * files; for a mutable dimension, swap in [[graft.operators.Cdc]]'s
    * snapshot via foreachBatch instead. */
  def enrich(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      joinType: String = "left"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, joinType)

  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      windowLen: String = "1 hour",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(s"window.start").as("ws"), col(keyCol), col("n"))

  /** Streaming keyed dedup — the streaming analogue of the reference's
    * ConcurrentKeyBagSet (tiny_etl/commons.py:238-310): the state
    * store IS the bag, scoped by the watermark instead of by input
    * record, so memory stays bounded on an unbounded stream.
    */
  def dedupWithinWatermark(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      lateness: String = "2 hours"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join — the streaming form of the
    * [[graft.operators.Sessions.asofJoin]] attribution ask: pair each
    * left event with right events for the same keys that happened in
    * the window `[left.ts - horizon, left.ts]` (e.g. purchases with the
    * clicks at most `horizon` before them).
    *
    * Both sides carry watermarks and the join condition bounds the
    * event-time distance in BOTH directions, which is what lets the
    * state store evict: a buffered right row can be dropped once the
    * left watermark passes `right.ts + horizon` — without the bound the
    * state grows with the stream, full stop. This is the inner-join
    * form (the one Spark supports on both streaming sides without
    * outer-null bookkeeping); the attribution "pick the latest" then
    * composes as a downstream `max_by` aggregation or is run batchwise
    * via [[graft.operators.Sessions.asofJoin]].
    *
    * Column contract: both inputs expose `keys` and `tsCol`; the right
    * side's non-key columns must not collide with the left's (rename
    * before calling). A left `tsCol` that already carries a watermark
    * (a chained join's previous right-side ts) keeps it.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      horizon: String,
      tsCol: String = "ts",
      rightTsCol: String = "rts",
      lateness: String = "2 hours"): DataFrame = {
    // chaining joins: a column that already carries a watermark (e.g.
    // the previous stage's right-side ts) must NOT be re-watermarked —
    // Spark rejects watermark redefinition outright
    val l =
      if (left.schema(tsCol).metadata.contains(EventTimeWatermark.delayKey)) left
      else left.withWatermark(tsCol, lateness)
    val r = right.withColumnRenamed(tsCol, rightTsCol)
      .withWatermark(rightTsCol, lateness)
    val keyEq = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val inWindow =
      r(rightTsCol) <= l(tsCol) &&
        r(rightTsCol) >= l(tsCol) - expr(s"INTERVAL $horizon")
    l.join(r, keyEq && inWindow, "inner")
      .select(l("*") +: right.columns.toIndexedSeq.filterNot(keys.contains)
        .map(c => r(if (c == tsCol) rightTsCol else c)): _*)
  }

  /** Event-time SESSION windows — gap sessionization as a streaming
    * aggregation: `session_window` grows a per-key window while events
    * keep arriving within `gap` of its end, and the session's single
    * result row emits (append mode) once the watermark passes the
    * window end — so state is bounded by OPEN sessions per key, not by
    * stream length. The streaming twin of
    * [[graft.operators.Sessions.sessionStats]], and the same code runs
    * on a batch frame (spec asserts per-session equality with the
    * batch sessionizer on the events fixture).
    *
    * Boundary nuance: windows are half-open, so an event at EXACTLY
    * `prev.ts + gap` starts a NEW session here, while the batch
    * sessionizer's `gap-strictly-greater` rule keeps it — an exact-tie
    * set of measure zero on real timestamps, but a contract difference
    * worth knowing.
    */
  def sessionCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      gap: String = "12 hours",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), max(col(tsCol)).as("t_last"))
      .select(
        col("session_window.start").as("t_first"),
        col("t_last"), col(keyCol), col("n_events"))

  /** Streaming ingest of the reference's canonical job
    * (example/main.py:59-137: walk a directory of .txt files → word
    * stats → file sink) as an incremental-batch pipeline:
    * `readStream` file source + `Trigger.AvailableNow` drains whatever
    * is in the directory now, checkpoints progress, and exits — rerun
    * it and ONLY files that arrived since the last run are processed.
    * That is the 100 TB-scale shape for "a new tranche of corpus lands
    * every night": per-run cost is proportional to the increment, with
    * exactly-once file tracking from the checkpoint, where the batch
    * job re-reads the world every run. The sink is idempotent too —
    * each micro-batch dynamically OVERWRITES its own `batch_id=N`
    * partition, so a failure after the write but before the checkpoint
    * commit replays the batch into the same partition instead of
    * appending duplicates (a blind append would make the pipeline only
    * at-least-once on retry).
    *
    * The word stats run inside `foreachBatch`: `wholetext` makes each
    * file ONE source row, and WordStats derives a file's rows from
    * that row alone (its first-seen dedup is row-local), so whichever
    * micro-batch carries a file produces all of its rows — per-batch
    * stats + parquet append is then exactly the batch result, no
    * cross-batch state needed. (A line-granular source would need
    * watermarked streaming aggregation instead; file-granular
    * semantics make the cheap shape correct.)
    *
    * Returns the started query; callers decide whether to await. */
  def ingestWordStats(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      outPath: String,
      checkpoint: String,
      glob: String = "*.txt"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.Scalars
    import graft.operators.WordStats
    val files = spark.readStream
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .text(dir)
      // input_file_name() is undefined on streaming sources; the file
      // source's _metadata column is the supported provenance channel
      .select(col("_metadata.file_path").as("file_path"),
        col("value").as("content"))
    files.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        WordStats(batch, idCol = "file_path", textCol = "content")
          .withColumn("file", Scalars.truncate269(
            Scalars.lastPathComponents(col("file_path"), 5)))
          .select(col("word"), col("word_len"), col("word_truncated"),
            col("file"), col("words_count"))
          // idempotent-on-replay: overwrite THIS batch's partition only
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outPath)
        ()
      }
      .start()
  }

  /** A maintained-store read for the ingest jobs: the store's rows
    * from batches BEFORE `batchId` (a replayed batch must not see its
    * own previous half-written attempt as prior state, or replay
    * would double-pair/double-assign), or an empty frame of
    * `template`'s schema when the store doesn't exist yet (first
    * batch). */
  private def priorStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batchId: Long,
      template: DataFrame): DataFrame =
    scala.util.Try(spark.read.parquet(path))
      .map(_.where(col("batch_id") < batchId).drop("batch_id"))
      .getOrElse(template.limit(0))

  /** Idempotent per-batch append: every ingest write lands in its own
    * `batch_id=N` partition via dynamic partition overwrite, so a
    * replayed micro-batch overwrites its previous attempt instead of
    * duplicating rows — the same exactly-once-on-replay contract as
    * [[ingestWordStats]]. */
  private def writeBatchPartition(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** Maintenance compaction for the ingest jobs' batch_id-partitioned
    * stores ([[ingestWordStats]] output, [[ingestNearDup]]'s
    * `sigs`/`docs`, [[ingestIndexCodes]]' code table, [[ingestPHash]]'s
    * `sigs`): every tranche lands one `batch_id=N` partition holding a
    * handful of small files, so after a year of nightly tranches the
    * store reads at open-one-file-per-task speed. This rewrites all
    * COMMITTED batches into ~`targetBytes` files via
    * [[graft.operators.Layout.compactionPlan]] +
    * [[graft.operators.Layout.compact]] (the whole store is one
    * compaction unit — the `dir` column is pinned to `storePath`, so
    * groups span batch partitions) and folds them into the single
    * partition `batch_id=<max compacted id>`.
    *
    * Replay idempotence is preserved by construction: the HIGHEST
    * batch partition is never touched — it is the only one a crashed
    * run can replay (AvailableNow commits each batch before the next
    * starts), and its dynamic-overwrite replay must land in its own
    * untouched partition. Folding older batches into `batch_id = max
    * compacted id` keeps every `priorStore` read (`batch_id <
    * current`) row-identical: all folded rows came from batches below
    * any current or future id. StreamingSpec pins bit-identical
    * incremental results across a compaction.
    *
    * Crash safety — a two-phase commit under the store root (hidden
    * from Spark's partition discovery by the `_` prefix):
    *
    *  1. STAGE (pure addition): rewrite groups into
    *     `_compact_staging/` via [[graft.operators.Layout.compact]].
    *     A crash here leaves the store untouched; the leftover staging
    *     is deleted on the next call.
    *  2. MARK: write `_compact_staging/_COMMIT` naming the target
    *     partition, the source partitions, and the keep files (files
    *     already ≥ `targetBytes`, moved not rewritten) — written to a
    *     tmp name, closed, then renamed into place, with a trailing
    *     `END` sentinel. A complete marker is the commit point; an
    *     END-less one means MARK was interrupted and the next call
    *     restages from scratch.
    *  3. COMMIT (replayable from the marker): move keep files into
    *     staging, delete source partitions, move every staged file
    *     into the target partition, drop staging. A crash anywhere
    *     here is finished idempotently by the next call (moves skip
    *     already-moved files; deletes are no-ops on missing dirs), and
    *     every move/delete is CHECKED — a false return aborts with the
    *     marker intact rather than letting a later delete erase bytes
    *     a failed rename never moved.
    *
    * Single-writer contract: run BETWEEN tranches, never concurrently
    * with an ingest or a reader — a plain parquet store has no
    * snapshot isolation, so readers in the commit window could see
    * partial state (the same operational window a lakehouse OPTIMIZE
    * closes with its transaction log). All filesystem access goes
    * through the Hadoop `FileSystem` API — `file:`, `hdfs:`, `s3a:`
    * alike (on S3, "rename" is the FS connector's copy+delete; the
    * marker protocol tolerates its non-atomicity because every step
    * is individually replayable).
    *
    * Returns [[graft.operators.Layout.compact]]'s manifest —
    * `(group_id, out_files, out_bytes)`, one row per rewrite group,
    * `out_files == 1` each — or an empty manifest when there is
    * nothing to do (fewer than two batch partitions, or no
    * small-file groups). */
  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    import graft.operators.Layout
    import spark.implicits._
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, "_compact_staging")
    val marker = new Path(staging, "_COMMIT")
    def emptyManifest =
      Seq.empty[(String, Long, Long)].toDF("group_id", "out_files", "out_bytes")

    // Loud-failure FS primitives: a false return from rename/delete
    // (object-store transient, permission races) must STOP the commit
    // with the marker still in place — the next call replays it — not
    // fall through to a later step that deletes the un-moved bytes.
    def renameOrDie(src: Path, dst: Path): Unit =
      require(fs.rename(src, dst), s"compactStore: rename failed: $src -> $dst")
    def deleteOrDie(p: Path, recursive: Boolean): Unit =
      require(fs.delete(p, recursive) || !fs.exists(p),
        s"compactStore: delete failed: $p")

    // the commit runbook — executed after MARK, and re-executed
    // verbatim by the next call if a crash interrupted it. Every step
    // is checked: a failed move/delete aborts with the marker intact.
    def runCommit(): Unit = {
      val in = fs.open(marker)
      val txt = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        buf.toString("UTF-8")
      } finally in.close()
      val lines = txt.split("\n").toSeq
      require(lines.lastOption.contains("END"),
        s"compactStore: corrupt commit marker (no END sentinel): $marker")
      def tagged(tag: String) =
        lines.filter(_.startsWith(tag + " ")).map(_.stripPrefix(tag + " "))
      val target = new Path(tagged("TARGET").head)
      val keepDir = new Path(staging, "keep")
      val keeps = tagged("KEEP")
      if (keeps.nonEmpty && !fs.exists(keepDir)) fs.mkdirs(keepDir)
      keeps.zipWithIndex.foreach { case (p, i) =>
        val src = new Path(p)
        if (fs.exists(src))
          renameOrDie(src, new Path(keepDir, f"k$i%05d-${src.getName}"))
      }
      // non-target source partitions go wholesale; the TARGET dir's
      // original files are deleted by explicit path — a replay after a
      // partial staged-move must never delete the target dir itself
      // (it may already hold moved output; the c%05d-/k%05d- prefixes
      // keep moved names disjoint from original part- names)
      tagged("SOURCE").foreach { p =>
        val d = new Path(p)
        if (fs.exists(d)) deleteOrDie(d, recursive = true)
      }
      tagged("SOURCEFILE").foreach { p =>
        val f = new Path(p)
        if (fs.exists(f)) deleteOrDie(f, recursive = false)
      }
      if (!fs.exists(target)) fs.mkdirs(target)
      val staged = {
        val out = Seq.newBuilder[Path]
        val it = fs.listFiles(staging, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet"))
            out += st.getPath
        }
        out.result().sortBy(_.toString)
      }
      staged.zipWithIndex.foreach { case (f, i) =>
        renameOrDie(f, new Path(target, f"c$i%05d-${f.getName}"))
      }
      fs.delete(staging, true)
    }

    // Recovery from a previous interrupted run. A marker WITHOUT the
    // END sentinel means MARK itself was interrupted — the commit
    // never started (runCommit refuses END-less markers), the store is
    // untouched, and staging is pure addition: drop it and restage.
    def markerCommitted: Boolean = {
      val in = fs.open(marker)
      val txt = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        buf.toString("UTF-8")
      } finally in.close()
      txt.split("\n").lastOption.contains("END")
    }
    if (fs.exists(marker) && markerCommitted) runCommit()
    else if (fs.exists(staging)) fs.delete(staging, true)

    val ids =
      (if (!fs.exists(root)) Seq.empty
       else fs.listStatus(root).toSeq
         .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id=")))
        // toLongOption: a foreign prefix-matching dir whose suffix is
        // not a long (batch_id=__HIVE_DEFAULT_PARTITION__) is skipped,
        // not a NumberFormatException aborting store maintenance
        .flatMap(_.getPath.getName.stripPrefix("batch_id=").toLongOption)
        .sorted
    if (ids.size < 2) return emptyManifest
    val eligible = ids.init // the current (highest) batch stays replayable
    val files = eligible
      .map(id => Layout.listFiles(spark, s"$storePath/batch_id=$id"))
      .reduce(_ unionByName _)
      .withColumn("dir", lit(storePath)) // one unit: groups span batch dirs
    val plan = Layout.compactionPlan(files, targetBytes).cache()
    try {
      // gain guard: rewriting is only worth it when some group MERGES
      // files (≥ 2). A store whose prior batches are already one
      // ~target-sized file each would rewrite 1 → 1 per group forever;
      // skipping makes back-to-back calls a stable no-op.
      val gainful = !plan.where(col("action") === "compact")
        .groupBy("group_id").count().where(col("count") >= 2).isEmpty
      if (!gainful) return emptyManifest
      val manifest = Layout.compact(spark, plan, staging.toString)
      val keeps = plan.where(col("action") === "keep")
        .select("path").as[String].collect().sorted
      val targetDir = s"$storePath/batch_id=${eligible.last}"
      val targetFiles = Layout.listFiles(spark, targetDir)
        .select("path").as[String].collect().sorted
      // MARK atomically: write the runbook to a tmp file, close, then
      // rename onto the marker name — a crash mid-write leaves only
      // the tmp (recovery sees no committed marker and restages); the
      // trailing END sentinel guards stores whose rename can surface a
      // partially-copied object.
      val markerTxt =
        ((s"TARGET $targetDir" +:
          (eligible.init.map(id => s"SOURCE $storePath/batch_id=$id") ++
            targetFiles.map(p => s"SOURCEFILE $p") ++
            keeps.map(p => s"KEEP $p"))) :+ "END").mkString("\n")
      val markerTmp = new Path(staging, "_COMMIT.tmp")
      val out = fs.create(markerTmp, true)
      try out.write(markerTxt.getBytes("UTF-8")) finally out.close()
      renameOrDie(markerTmp, marker)
      runCommit()
      manifest
    } finally plan.unpersist()
  }

  /** Streaming IVF-PQ index MAINTENANCE — the incremental half of the
    * frozen-index lifecycle ([[graft.operators.Embeddings.ivfCentroids]]
    * / [[graft.operators.Embeddings.pqCentroids]] are trained once and
    * persisted; this job keeps the searchable tables current): each
    * tranche of embedding parquet landing in `dir` is assigned to its
    * IVF cell and PQ-encoded against the FROZEN artifacts, and the
    * (id, cell, sub, code, qdist) rows append to the maintained table —
    * per-run cost follows the increment, the corpus is never
    * re-assigned, and cell/code identities are stable because centroid
    * identities are seed-vector ids. Search then reads ONLY the
    * maintained table ([[graft.operators.Embeddings.annIvfPqServe]]):
    * `cells` = distinct (id, cell), `codes` = (id, sub, code).
    *
    * AvailableNow + checkpoint = exactly-once file tracking;
    * batch_id-partitioned dynamic overwrite = idempotent on replay —
    * end-to-end exactly-once like [[ingestWordStats]].
    *
    * The landing dir must hold at least one tranche before the first
    * run (the streaming parquet source needs a schema; it is read from
    * the existing files). Returns the started query. */
  def ingestIndexCodes(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      icentsPath: String,
      pcentsPath: String,
      outPath: String,
      checkpoint: String,
      m: Int = graft.operators.Embeddings.PqSubspaces,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Embeddings
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val icents = s.read.parquet(icentsPath)
        val pcents = s.read.parquet(pcentsPath)
        val cells = Embeddings.ivfAssign(batch, icents, idCol, vecCol)
        val codes = Embeddings.pqEncode(batch, pcents, m, idCol, vecCol)
        writeBatchPartition(
          cells.join(codes, Seq(idCol))
            .select(col(idCol), col("cell"), col("sub"), col("code"),
              col("qdist")),
          batchId, outPath)
        ()
      }
      .start()
  }

  /** Streaming incremental near-duplicate detection — the daily-ingest
    * loop of [[graft.operators.NearDup.minHashPairsBetween]] run as a
    * checkpointed pipeline: each tranche of documents landing in `dir`
    * is MinHash-signed once, candidate pairs come from the signature
    * equijoin of the NEW tranche against the accumulated signature
    * store (plus within-tranche pairs), and only candidate-involved
    * base docs are re-shingled for the exact-Jaccard confirm — so the
    * recurring cost is increment × collisions, never a re-pass over
    * the corpus, and each doc's signature is computed exactly once
    * across the pipeline's lifetime.
    *
    * State is two batch_id-partitioned parquet stores under
    * `statePath`: `sigs` (doc, hash index, hash value — k longs per
    * doc) and `docs` (raw text, read back only for confirm, restricted
    * to candidate doc ids by a left-semi join). Confirmed pairs land in
    * `outPairs`, normalized to doc_a < doc_b. The UNION of all batch
    * partitions equals the one-shot batch
    * [[graft.operators.NearDup.minHashPairs]] over the full corpus
    * (same signatures ⇒ same candidates; same shingles ⇒ same
    * confirm): a cross-tranche pair is found by the later doc's batch,
    * a within-tranche pair by its own — StreamingSpec pins the
    * equality. Ids must be unique corpus-wide (the contract of every
    * index here). Exactly-once like the other ingest jobs: AvailableNow
    * file tracking + per-batch dynamic partition overwrite on all
    * three outputs, and prior state reads exclude the current
    * batch_id so a replay cannot pair a tranche against its own
    * half-written previous attempt. */
  def ingestNearDup(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      statePath: String,
      outPairs: String,
      checkpoint: String,
      k: Int = graft.operators.NearDup.NumMinHashes,
      thresholdMilli: Int = graft.operators.NearDup.ThresholdMilli,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.NearDup
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val sigStore = s"$statePath/sigs"
        val docStore = s"$statePath/docs"
        val newDocs = batch.select(col(idCol), col(textCol))
        val newSh = NearDup.shingles(newDocs, idCol, textCol)
        val newSig = NearDup.minHashSignatures(newSh, idCol, k)
          .select(col(idCol),
            posexplode(array((0 until k).map(i => col(s"h$i")): _*))
              .as(Seq("__hi", "__hv")))
        val baseSig = priorStore(s, sigStore, batchId, newSig)
        val baseDocs = priorStore(s, docStore, batchId, newDocs)

        val newKeyed = newSig.select(
          col(idCol).as("doc_b"), col("__hi"), col("__hv"))
        val candCross = baseSig
          .select(col(idCol).as("doc_a"), col("__hi"), col("__hv"))
          .join(newKeyed, Seq("__hi", "__hv"))
          .select("doc_a", "doc_b").distinct()
        val candWithin = newSig
          .select(col(idCol).as("doc_a"), col("__hi"), col("__hv"))
          .join(newKeyed, Seq("__hi", "__hv"))
          .where(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()

        // re-shingle ONLY base docs that collided — confirm cost is
        // bounded by the candidate set, not the accumulated corpus
        val involved = candCross.select(col("doc_a").as(idCol)).distinct()
        val baseShCand = NearDup.shingles(
          baseDocs.join(involved, Seq(idCol), "left_semi"), idCol, textCol)
        val pairs = NearDup
          .confirmBetween(candCross, baseShCand, newSh, idCol, thresholdMilli)
          .unionByName(NearDup.confirm(candWithin, newSh, idCol, thresholdMilli))
          .select(
            least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"),
            col("jaccard_x1000"))

        writeBatchPartition(pairs, batchId, outPairs)
        writeBatchPartition(newSig, batchId, sigStore)
        writeBatchPartition(newDocs, batchId, docStore)
        ()
      }
      .start()
  }

  /** Streaming incremental PERCEPTUAL-hash near-dup — the byte-domain
    * sibling of [[ingestNearDup]], completing the incremental trio
    * (MinHash text, IVF-PQ vectors, pHash payloads): each tranche of
    * binary payloads landing in `dir` is blockhash-signed ONCE (three
    * longs per payload into the `sigs` store), cross-tranche pairs come
    * from the band-pair equijoin of the NEW signatures against the
    * accumulated store plus the within-tranche join, and the
    * dual-signature Hamming confirm consumes ONLY signatures — unlike
    * the MinHash confirm, no payload is ever re-read, so there is no
    * payload store at all and the recurring cost is increment ×
    * collisions over 24-byte rows.
    *
    * The UNION of all batch partitions equals the one-shot batch
    * [[graft.operators.Multimodal.pHashPairs]] over the full corpus
    * (identical band-pair candidates, identical signature-only
    * confirm): a cross-tranche pair is found by the later payload's
    * batch, a within-tranche pair by its own — StreamingSpec pins the
    * equality. Ids must be unique corpus-wide. Exactly-once like the
    * other ingest jobs: AvailableNow file tracking + per-batch dynamic
    * partition overwrite, prior-state reads exclude the current
    * batch_id. */
  def ingestPHash(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      statePath: String,
      outPairs: String,
      checkpoint: String,
      bands: Int = graft.operators.Multimodal.PHashBands,
      maxHamming: Int = graft.operators.Multimodal.PHashMaxHamming,
      idCol: String = "doc_id",
      binCol: String = "payload"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Multimodal
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val sigStore = s"$statePath/sigs"
        val newSigs = Multimodal.pHashSignatures(
          batch.select(col(idCol), col(binCol)), idCol, binCol)
        // sign ONCE, literally: land the tranche's signatures in the
        // store FIRST, then pair from the store read-back — the narrow
        // feature-extraction pipeline would otherwise re-run once per
        // consumer (two pairing calls + the store write are separate
        // actions, so even a repartition seam cannot share it across
        // them). Replay stays idempotent: both writes are dynamic
        // per-batch overwrites and prior-state reads exclude this
        // batch, so a crash between the two writes just recomputes.
        writeBatchPartition(newSigs, batchId, sigStore)
        val stored = s.read.parquet(sigStore)
          .where(col("batch_id") === batchId).drop("batch_id")
        val baseSigs = priorStore(s, sigStore, batchId, newSigs)
        val cross = Multimodal.pHashPairsFromSignatures(
          baseSigs, stored, idCol, bands, maxHamming)
        val within = Multimodal.pHashPairsFromSignatures(
          stored, idCol, bands, maxHamming)
        val pairs = cross.unionByName(within)
          .select(
            least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"),
            col("hamming_dist"))
        writeBatchPartition(pairs, batchId, outPairs)
        ()
      }
      .start()
  }

  /** Streaming incremental ENTITY RESOLUTION — the edit-distance member
    * of the ingest family (MinHash text, IVF-PQ vectors, pHash
    * payloads, fuzzy names): each roster tranche landing in `dir` is
    * deletion-keyed ONCE ([[graft.operators.Er.keyTable]] — len+1 short
    * rows per record into the `keys` store), fuzzy links come from the
    * key equijoin of the NEW tranche against the accumulated store plus
    * the within-tranche self-join, and the banded-Levenshtein confirm
    * consumes ONLY the key rows (names ride with the keys) — no roster
    * re-read, recurring cost = increment × key-bucket collisions.
    *
    * The UNION of all batch partitions equals the one-shot
    * [[graft.operators.Er.fuzzyPairs]] over the full roster (identical
    * deletion-neighborhood candidates, identical confirm): a
    * cross-tranche pair is found by the later record's batch, a
    * within-tranche pair by its own — StreamingSpec pins the equality.
    * Ids must be unique roster-wide. Exactly-once like the other ingest
    * jobs: AvailableNow file tracking + per-batch dynamic partition
    * overwrite, prior-state reads exclude the current batch_id.
    * `maxEdit` sets BOTH the blocking depth of the keys this tranche
    * stores and the confirm bound — it must stay constant across a
    * store's lifetime (keys written at depth 1 cannot serve a later
    * depth-2 confirm; start a new statePath to turn the dial). */
  def ingestErLinks(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      statePath: String,
      outLinks: String,
      checkpoint: String,
      maxEdit: Int = 1,
      idCol: String = "id",
      nameCol: String = "name"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Er
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val keyStore = s"$statePath/keys"
        // key ONCE: land the tranche's key table first, read it back
        // for both pairing joins (the ingestPHash discipline — two
        // consumers would otherwise re-run the explode per action);
        // replay stays idempotent, both writes are per-batch dynamic
        // overwrites and prior reads exclude this batch
        writeBatchPartition(
          Er.keyTable(batch.select(col(idCol), col(nameCol)), idCol, nameCol,
            maxEdit),
          batchId, keyStore)
        val stored = s.read.parquet(keyStore)
          .where(col("batch_id") === batchId).drop("batch_id")
        val baseKeys = priorStore(s, keyStore, batchId, stored)
        val cross = Er.fuzzyPairsFromKeys(baseKeys, stored, maxEdit, ordered = false)
        val within = Er.fuzzyPairsFromKeys(stored, stored, maxEdit, ordered = true)
        val links = cross.unionByName(within)
          .select(
            least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"),
            col("dist"))
        writeBatchPartition(links, batchId, outLinks)
        ()
      }
      .start()
  }

  /** Streaming fuzzy DECONTAMINATION — the "scrub before landing"
    * ingest gate: each tranche of documents arriving in `dir` is
    * checked against the static `benchmark` set with the
    * paraphrase-tolerant near-dup contract of
    * [[graft.operators.Curation.decontaminateFuzzy]] (confirmed
    * MinHash Jaccard ≥ threshold), and only the CLEAN documents are
    * written, under the tranche's `batch_id` partition. Unlike the
    * ingest siblings this job is STATELESS across tranches —
    * contamination is tranche-vs-benchmark pairwise, so no signature
    * store accumulates; the benchmark (small by nature: an eval set)
    * is re-signed per tranche, the tranche once, and the scrub is the
    * banded cross-corpus equijoin + one anti-join. Replay-idempotent
    * the stateless way: a replayed batch recomputes the identical
    * clean set and dynamic-overwrites only its own partition.
    *
    * The union of all batch partitions equals the one-shot
    * `decontaminateFuzzy` over the full corpus (pairwise-determined
    * hits ⇒ the scrub decomposes over any tranche partition) —
    * StreamingSpec pins the equality. */
  def ingestDecontam(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      benchmark: DataFrame,
      outClean: String,
      checkpoint: String,
      thresholdMilli: Int = graft.operators.NearDup.ThresholdMilli,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchPartition(
          graft.operators.Curation.decontaminateFuzzyBetween(
            batch.select(col(idCol), col(textCol)), benchmark,
            idCol, textCol, thresholdMilli),
          batchId, outClean)
        ()
      }
      .start()
  }

  /** Streaming incremental CLUSTER maintenance — the resolution stage
    * downstream of the whole ingest family: consumes a confirmed-pair
    * store as it grows (the pair output of [[ingestNearDup]] /
    * [[ingestPHash]] / [[ingestErLinks]], or any `(aCol, bCol)`
    * parquet feed landing in `pairsDir`) and maintains the corpus-wide
    * cluster assignment with
    * [[graft.operators.DedupClusters.merge]]: each micro-batch folds
    * the tranche's pairs into the latest committed snapshot, and the
    * contraction theorem (CC(star(CC(P₁)) ∪ P₂) = CC(P₁ ∪ P₂)) makes
    * the maintained snapshot bit-identical to the one-shot
    * `DedupClusters.resolve` over every pair seen so far —
    * StreamingSpec pins the equality tranche by tranche.
    *
    * State is a SNAPSHOT store, unlike the siblings' append stores:
    * each batch writes the full assignment under its `batch_id`
    * partition. Assignment rows are three longs and a flag, so the
    * snapshot is the cheap artifact at any corpus scale, and the merge
    * COMPUTE is bounded by the increment (only clusters incident to a
    * new pair re-enter the contraction; everything else is an
    * anti-join pass-through). Replay-idempotent like its siblings: a
    * replayed batch recomputes from the same prior — the max committed
    * `batch_id` BELOW its own, never its half-written attempt — and
    * dynamic-overwrites only its own partition. Snapshots below the
    * prior the current batch read are pruned in-batch (a replay needs
    * only that prior), so the store holds at most two committed
    * snapshots plus the in-flight one; same single-writer contract as
    * [[compactStore]]. */
  def ingestClusters(
      spark: org.apache.spark.sql.SparkSession,
      pairsDir: String,
      statePath: String,
      checkpoint: String,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupClusters
    val schema = spark.read.parquet(pairsDir).schema
    spark.readStream.schema(schema).parquet(pairsDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val pairs = batch.select(col(aCol), col(bCol))
        val committed = scala.util.Try(s.read.parquet(statePath)).toOption
          .map(_.where(col("batch_id").cast("long") < batchId))
        // driver-side scalar: which committed snapshot is the prior
        val priorId = committed.flatMap(df =>
          Option(df.agg(max(col("batch_id").cast("long"))).head().get(0))
            .map(_.asInstanceOf[Long]))
        val prior = (committed, priorId) match {
          case (Some(df), Some(m)) =>
            df.where(col("batch_id").cast("long") === m).drop("batch_id")
          case _ =>
            Seq.empty[(Long, Long, Long, Boolean)]
              .toDF("doc_id", "cluster_id", "cluster_size", "is_canonical")
        }
        writeBatchPartition(
          DedupClusters.merge(prior, pairs, aCol, bCol), batchId, statePath)
        // prune snapshots below the prior this batch read — a replay
        // of THIS batch re-reads exactly that prior, nothing older
        priorId.foreach { m =>
          val root = new org.apache.hadoop.fs.Path(statePath)
          val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
            .filter(_.getName.startsWith("batch_id="))
            // toLongOption: skip (never delete, never throw on) any
            // foreign dir whose suffix is not a numeric batch id
            .filter(_.getName.stripPrefix("batch_id=").toLongOption.exists(_ < m))
            .foreach(p => fs.delete(p, true))
        }
        ()
      }
      .start()
  }

  /** Streaming per-domain document cap — the anti-domination curation
    * gate maintained incrementally: each tranche of documents landing
    * in `docsDir` is quality-scored
    * ([[graft.operators.TextAnalysis.quality]], the same projection
    * the batch [[graft.operators.Curation.domainCap]] uses) and folded
    * into the maintained per-domain top-k snapshot with
    * [[graft.operators.Curation.domainCapMerge]]. Associativity of
    * per-key top-k (topK(A ∪ B) = topK(topK(A) ∪ B) under the total
    * (score DESC, id ASC) order) makes the snapshot bit-identical to
    * the one-shot `domainCap` over every document seen so far —
    * StreamingSpec pins the equality tranche by tranche.
    *
    * Same SNAPSHOT-store shape, replay contract, and pruning as
    * [[ingestClusters]]: a snapshot is ≤ k rows per domain of four
    * narrow columns (the cheap artifact at any corpus scale), merge
    * compute is bounded by the increment (untouched domains are an
    * anti-join pass-through), a replayed batch recomputes from the max
    * committed snapshot below its own id and dynamic-overwrites only
    * its own partition, and snapshots below the prior it read are
    * pruned in-batch. Premise shared with the ingest family: doc ids
    * are unique across tranches. */
  def ingestDomainCap(
      spark: org.apache.spark.sql.SparkSession,
      docsDir: String,
      statePath: String,
      checkpoint: String,
      k: Int,
      domainCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Curation, TextAnalysis}
    require(k >= 1, s"k must be >= 1, got $k")
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val scored = TextAnalysis
          .quality(batch, idCol, textCol, carryCols = Seq(domainCol))
          .select(col(idCol), col(domainCol), col("score_milli"))
        val committed = scala.util.Try(s.read.parquet(statePath)).toOption
          .map(_.where(col("batch_id").cast("long") < batchId))
        val priorId = committed.flatMap(df =>
          Option(df.agg(max(col("batch_id").cast("long"))).head().get(0))
            .map(_.asInstanceOf[Long]))
        val prior = (committed, priorId) match {
          case (Some(df), Some(m)) =>
            df.where(col("batch_id").cast("long") === m).drop("batch_id")
          case _ =>
            // empty prior DERIVED from the tranche's own scored schema
            // (idCol/domainCol are caller-typed — a hardcoded
            // (bigint, string) template would fail or silently coerce
            // the first snapshot for any other id/domain types)
            scored.limit(0).withColumn("domain_rank", lit(0L))
        }
        writeBatchPartition(
          Curation.domainCapMerge(prior, scored, k, domainCol, idCol),
          batchId, statePath)
        // prune snapshots below the prior this batch read (replay
        // re-reads exactly that prior, nothing older)
        priorId.foreach { m =>
          val root = new org.apache.hadoop.fs.Path(statePath)
          val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
            .filter(_.getName.startsWith("batch_id="))
            .filter(_.getName.stripPrefix("batch_id=").toLongOption.exists(_ < m))
            .foreach(p => fs.delete(p, true))
        }
        ()
      }
      .start()
  }

  /** Output row of [[runningCounts]]. */
  final case class KeyTotal(key: String, total: Long)

  /** Custom keyed state via mapGroupsWithState: a running total per
    * key across micro-batches — the minimal shape of "bring your own
    * state machine" (sessionization, counters, CDC merge) that the
    * reference could only express as a shared in-memory dict. State is
    * one long per key, partitioned by the state store.
    */
  def runningCounts(ds: Dataset[(String, Long)]): Dataset[KeyTotal] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState[Long, KeyTotal](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
          state.update(total)
          KeyTotal(key, total)
      }
  }

  /** Open-session state of [[timeoutSessions]]: (n_events, t_first_ms,
    * t_last_ms). */
  final case class OpenSession(n: Long, first: Long, last: Long)

  /** Output row of [[timeoutSessions]]: `closed_by` records WHY the
    * session emitted — "gap" (a later event arrived beyond the gap) or
    * "timeout" (the watermark passed last + gap with no successor). */
  final case class SessionOut(
      key: String, n_events: Long, t_first: Long, t_last: Long,
      closed_by: String)

  /** Gap sessionization via flatMapGroupsWithState + EVENT-TIME
    * timeout — the bring-your-own-state-machine form of
    * [[sessionCounts]], for semantics `session_window` cannot express:
    * each emitted session carries close PROVENANCE, and arbitrary
    * per-session state (counters, payload digests) rides along. A
    * session closes either when a later event for the key arrives
    * past the gap, or when the watermark passes `last + gap`
    * (`setTimeoutTimestamp` + `hasTimedOut`) — so quiet keys still
    * emit, and state is bounded by OPEN sessions exactly like the
    * built-in. Input must carry a watermark on the timestamp column;
    * events inside one micro-batch are sorted per key (the iterator
    * has no order contract). */
  def timeoutSessions(
      ds: Dataset[(String, java.sql.Timestamp)],
      gapMs: Long): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(key, s.n, s.first, s.last, "timeout"))
          } else {
            val times = rows.map(_._2.getTime).toArray.sorted
            var open = state.getOption
            val closed = Array.newBuilder[SessionOut]
            times.foreach { t =>
              open match {
                case Some(s) if t - s.last <= gapMs =>
                  // min the first timestamp too: a late-but-within-
                  // watermark event from a LATER micro-batch can
                  // predate the open session's start (in-batch events
                  // are sorted, cross-batch ones aren't), and t_first
                  // must be the session's true earliest event
                  open = Some(OpenSession(s.n + 1,
                    math.min(s.first, t), math.max(s.last, t)))
                case Some(s) =>
                  closed += SessionOut(key, s.n, s.first, s.last, "gap")
                  open = Some(OpenSession(1L, t, t))
                case None =>
                  open = Some(OpenSession(1L, t, t))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
