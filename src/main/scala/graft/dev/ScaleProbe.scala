package graft.dev

import org.apache.spark.sql.SparkSession

/** Ad-hoc measured-experiment runner behind SCALE.md's numbers — the
  * walls recorded there must be reproducible, so the probes live in
  * the repo instead of a throwaway shell. Each probe is a named
  * experiment; run as:
  *
  *   sbt "runMain graft.dev.ScaleProbe <probe> [sfDir]"
  *
  * Probes time with a warmup pass and report min-of-2 (the bench's
  * own discipline). Not part of the battery; Verify/Bench never call
  * this.
  */
object ScaleProbe {

  private def session(): SparkSession = {
    val cpus = graft.core.Session.cpus
    // partitions override: per-task memory experiments (e.g. the ER
    // shuffle_hash build) need partitions sized independently of cores
    graft.core.Session.builder(cpus).config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
      .getOrCreate()
  }

  private def minOf2(body: => Long): (Double, Long) = {
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val a = once(); val b = once()
    (math.min(a._1, b._1), b._2)
  }

  def main(args: Array[String]): Unit = {
    val probe = args.headOption.getOrElse("bpe_k64")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val run = probes.getOrElse(probe, {
      System.err.println(s"unknown probe: $probe; valid probes: " +
        probes.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val spark = session()
    run(spark, sfDir, args)
    spark.stop()
  }

  /** A probe body: (session, sfDir, the whole command line). */
  private type Probe = (SparkSession, String, Array[String]) => Unit

  /** Every probe by name — the one list `main` checks a name against. */
  private val probes: Map[String, Probe] = Map(
      "bpe_k64" -> { (spark, sfDir, args) =>
        // batched (maxBatch=16) vs sequential (maxBatch=1) BPE training
        // wall at k=64 on the documents word dict — the driver-loop
        // round count is the variable under test, so the dict is
        // checkpointed once and shared.
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val dict = graft.operators.Bpe.wordDict(docs).localCheckpoint()
        graft.operators.Bpe.trainMerges(dict, 4, maxBatch = 1).count() // warmup
        val (seqSec, seqN) =
          minOf2(graft.operators.Bpe.trainMerges(dict, 64, maxBatch = 1).count())
        val (batSec, batN) =
          minOf2(graft.operators.Bpe.trainMerges(dict, 64, maxBatch = 16).count())
        val same = {
          val a = graft.operators.Bpe.trainMerges(dict, 64, maxBatch = 1)
            .collect().map(_.toString).sorted.toSeq
          val b = graft.operators.Bpe.trainMerges(dict, 64, maxBatch = 16)
            .collect().map(_.toString).sorted.toSeq
          a == b
        }
        println(f"""{"probe":"bpe_k64","sequential_sec":$seqSec%.2f,"batched_sec":$batSec%.2f,"merges":$seqN,"merges_batched":$batN,"equal":$same}""")
      },
      "frontier_wall" -> { (spark, sfDir, args) =>
        // per-cell SEARCH wall for emb_ann_frontier's 2×2×2 dial grid
        // (m × nprobe × refine) — the axis the hash-matched battery
        // row cannot carry (wall time is host-dependent). Together
        // with the frontier's recall_permille and n_candidates this
        // completes the recall-vs-cost table in SCALE.md. Each cell
        // times ONLY Embeddings.annIvfPq (the serving search), with
        // the corpus and dials identical to the battery cell.
        import graft.operators.Embeddings
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val q = org.apache.spark.sql.functions.col("vec_id") % 20 === 0
        val mStep = Seq(
          Embeddings.PqSubspaces ->
            Embeddings.stepForBoundedK(emb.count(), graft.SparkEntry.PqCodebookK),
          graft.SparkEntry.ScaledPqSubspaces ->
            Embeddings.stepForBoundedK(emb.count(), graft.SparkEntry.ScaledPqCodebookK))
        val cells = for {
          (m, step) <- mStep
          nprobe <- Seq(1, graft.SparkEntry.IvfPqNprobe)
          refine <- Seq(Option.empty[Int], Some(graft.SparkEntry.IvfPqRefine))
        } yield {
          val (sec, n) = minOf2(
            Embeddings.annIvfPq(emb, q, m = m, pqStep = Some(step),
              nprobe = nprobe, refine = refine).count())
          s"""{"m":$m,"nprobe":$nprobe,"refine":${refine.getOrElse(0)},""" +
            f""""sec":$sec%.2f,"rows":$n}"""
        }
        println(s"""{"probe":"frontier_wall","cells":[${cells.mkString(",")}]}""")
      },
      "bpe_k1024" -> { (spark, sfDir, args) =>
        // the real-vocabulary wall: k=1024 merges, incremental count
        // maintenance vs full per-round recount (both batched at the
        // default 16). The plain documents dict EXHAUSTS at 89 merges
        // (measured — the fixture vocabulary is too small to carry a
        // 1024-merge wall), so the dict comes from the 100×-replicated
        // corpus (token-disjoint suffixed replicas: ~100× the words,
        // and each suffix family's merges touch ~1% of the dict — the
        // small-affected-fraction regime incremental exists for).
        // Reports wall, merge counts, equality of the merge lists;
        // SCALE.md extrapolates the 32k wall from these.
        val kProbe = args.lift(1).map(_.toInt).getOrElse(1024)
        val docs = graft.Soak.replicatedDocs(spark, "/root/testdata/sf0.01", 100)
        val dict = graft.operators.Bpe.wordDict(docs).localCheckpoint()
        graft.operators.Bpe.trainMerges(dict, 8).count() // warmup
        // ONE training per mode: the timed run's own collected merge
        // list doubles as the equality evidence (k rows — model-sized)
        def once(inc: Boolean): (Double, Seq[String]) = {
          val t0 = System.nanoTime()
          val rows = graft.operators.Bpe
            .trainMerges(dict, kProbe, maxBatch = 16, incremental = inc)
            .collect().map(_.toString).sorted.toSeq
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        val (fullSec, fullRows) = once(inc = false)
        val (incSec, incRows) = once(inc = true)
        println(f"""{"probe":"bpe_k1024","k":$kProbe,"dict_words":${dict.count()},"full_recount_sec":$fullSec%.2f,"incremental_sec":$incSec%.2f,"merges":${fullRows.size},"merges_inc":${incRows.size},"equal":${fullRows == incRows}}""")
      },
      "bpe_crossover" -> { (spark, sfDir, args) =>
        // the incremental-vs-recount CROSSOVER table: where does the
        // maintained-counts dial start winning, by k and dict size?
        // The high end is already measured (r14 bpe_k1024 probe:
        // k=512 on the 52.6k-word replicated dict — full 2731 s vs
        // incremental 610 s; count ties trim batches to ~1 merge per
        // round there, so large-k cells cost HOURS per path and are
        // deliberately not re-run). This probe fills the small-k end
        // where the default was chosen: fixture dict (11.7k words,
        // k ∈ {8, 16, 64}) and the 100×-replicated dict (52.6k words,
        // k ∈ {16, 64, 128}), both paths per cell, merge-list
        // equality asserted from the same collected lists.
        val dicts = Seq(
          ("fix", Seq(8, 16, 64),
            () => graft.operators.Bpe.wordDict(
              spark.read.parquet("/root/testdata/sf0.01/documents.parquet"))),
          ("d1", Seq(16, 64, 128),
            () => graft.operators.Bpe.wordDict(
              graft.Soak.replicatedDocs(spark, "/root/testdata/sf0.01", 100))))
        val cells = scala.collection.mutable.ArrayBuffer.empty[String]
        dicts.foreach { case (tag, ks, mk) =>
          val dict = mk().localCheckpoint()
          val words = dict.count()
          graft.operators.Bpe.trainMerges(dict, 8).count() // warmup
          ks.foreach { k =>
            def once(inc: Boolean): (Double, Seq[String]) = {
              val t0 = System.nanoTime()
              val rows = graft.operators.Bpe
                .trainMerges(dict, k, maxBatch = 16, incremental = inc)
                .collect().map(_.toString).sorted.toSeq
              ((System.nanoTime() - t0) / 1e9, rows)
            }
            val (fullSec, fullRows) = once(inc = false)
            val (incSec, incRows) = once(inc = true)
            cells += f"""{"dict":"$tag","words":$words,"k":$k,"full_sec":$fullSec%.2f,"inc_sec":$incSec%.2f,"speedup":${fullSec / incSec}%.2f,"merges":${fullRows.size},"equal":${fullRows == incRows}}"""
            System.err.println(s"[bpe_crossover] done $tag k=$k")
          }
          graft.core.IterCheckpoint.release(dict)
        }
        println(s"""{"probe":"bpe_crossover","cells":[${cells.mkString(",")}]}""")
      },
      "phash_twin_ham" -> { (spark, sfDir, args) =>
        // dual-grid Hamming distance of every PLANTED re-encode twin
        // to its origin under the scaled 256-bit signature — the
        // evidence behind the recall-dial cutoffs (which twins sit
        // past Hamming 14, and where a wider cutoff must land to
        // catch them). args: phash_twin_ham [sfDir]
        import org.apache.spark.sql.functions._
        import graft.operators.Multimodal
        val dir2 = args.lift(1).getOrElse("/root/testdata/sf0.01")
        // the battery's OWN corpus/twin generator — one definition, so
        // the measured distances can never drift from what the battery
        // (and the PHashScaledMidHammingWide cutoff it justifies) sees
        val (base, twins) = graft.SparkEntry.phashCorpus(spark, dir2)
        val words = Multimodal.PHashScaledBlocks / 64
        val sigs = Multimodal.pHashSignaturesWide(
          base.unionByName(twins), "doc_id", "payload")
        val a = sigs.where(col("doc_id") % 101 === 0 && col("doc_id") >= 0)
        val b = sigs.where(col("doc_id") < 0)
          .select(col("doc_id").as("__tid") +: (0 until words).flatMap(w =>
            Seq(col(s"__sig$w").as(s"__tb$w"), col(s"__sigm$w").as(s"__tm$w"))): _*)
        val ham = (0 until words)
          .map(w => bit_count(col(s"__sig$w").bitwiseXOR(col(s"__tb$w")))).reduce(_ + _)
        val hamM = (0 until words)
          .map(w => bit_count(col(s"__sigm$w").bitwiseXOR(col(s"__tm$w")))).reduce(_ + _)
        val rows = a.join(b, col("doc_id") === -col("__tid") - 1L)
          .select(col("doc_id"), ham.as("ham_primary"), hamM.as("ham_midpoint"))
          .orderBy(col("doc_id")).collect()
        val cells = rows.map(r =>
          s"""{"doc_id":${r.getLong(0)},"ham_primary":${r.get(1)},"ham_midpoint":${r.get(2)}}""")
        println(s"""{"probe":"phash_twin_ham","twins":[${cells.mkString(",")}]}""")
      },
      "er_join_hint" -> { (spark, sfDir, args) =>
        // third lever on the er_link_dirty2 100x wall: the candidate
        // equijoin's ALGORITHM. merge (the default; fully spillable)
        // vs shuffle_hash (per-task hash build over narrow (key, id)
        // rows — the layout the 10x OOM predates). args:
        // er_join_hint [sfDir] [soakScale]
        val scale = args.lift(2).map(_.toInt).filter(_ > 1)
        val dir2 = scale match {
          case Some(n) => graft.Soak.materializeDir(spark, sfDir, n)
          case None => sfDir
        }
        def run(hint: String): org.apache.spark.sql.DataFrame =
          graft.operators.Er.fuzzyJoinBetween(
            graft.SparkEntry.dirtyCustomers(spark, dir2), "dirty_id", "name",
            spark.read.parquet(s"$dir2/customer.parquet"), "c_custkey", "c_name",
            maxEdit = 2, joinHint = hint)
        run("merge").queryExecution.toRdd.count() // warmup
        // failure-honest per hint: a hash-build OOM is a RESULT here
        // (the measured null result), not a probe crash
        val results = Seq("merge", "shuffle_hash").map { h =>
          try {
            // minOf2 returns the LAST run's row count — no extra pass
            val (sec, n) = minOf2(run(h).queryExecution.toRdd.count())
            (h, f""""${h}_sec":$sec%.2f,"rows_$h":$n""")
          } catch { case e: Throwable =>
            val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .toSeq.last.getClass.getSimpleName
            (h, s""""${h}_error":"$root"""")
          }
        }
        val parts = spark.conf.get("spark.sql.shuffle.partitions")
        println(s"""{"probe":"er_join_hint","sf":"$dir2","scale":${scale.getOrElse(1)},"partitions":$parts,${results.map(_._2).mkString(",")}}""")
      },
      "q18_soak" -> { (spark, sfDir, args) =>
        // the agg-feeds-join 100× trap, executed at scale: q18 on the
        // N×-replicated corpus with size-based broadcasting OFF (at
        // 100 TB nothing fits in a broadcast), asserting the EXECUTED
        // adaptive plan kept both joins shuffle and recording the wall
        // + the largest join frame. args: q18_soak [sfDir] [scale]
        val scale = args.lift(2).map(_.toInt).getOrElse(100)
        val dir2 =
          if (scale > 1) graft.Soak.materializeDir(spark, sfDir, scale)
          else sfDir
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def q18() = graft.SparkEntry.queries("q18_big_orders")(spark, dir2)
        q18().queryExecution.toRdd.count() // warmup
        // fresh build per rep: re-counting one df's toRdd skips every
        // stage via shuffle-file reuse and times ~0 (measured 0.08 s)
        val (sec, rows) = minOf2 { q18().queryExecution.toRdd.count() }
        val df = q18()
        df.queryExecution.toRdd.count()
        // the executed ADAPTIVE plan prints BOTH "== Final Plan ==" and
        // "== Initial Plan ==" sections — count joins in the final only
        // (the duplicate sections read as 4 joins where the plan has 2)
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val shuffleJoins = "SortMergeJoin".r.findAllIn(p).size +
          "ShuffledHashJoin".r.findAllIn(p).size
        val broadcastJoins = "BroadcastHashJoin".r.findAllIn(p).size +
          "BroadcastNestedLoopJoin".r.findAllIn(p).size
        val maxJoin = graft.Soak.maxJoinOutputRows(df)
        println(s"""{"probe":"q18_soak","sf":"$sfDir","scale":$scale,"sec":${f"$sec%.2f"},"rows":$rows,"shuffle_joins":$shuffleJoins,"broadcast_joins":$broadcastJoins,"max_join_rows":$maxJoin}""")
        if (shuffleJoins != 2 || broadcastJoins != 0) {
          System.err.println(
            s"q18_soak: expected 2 shuffle joins / 0 broadcasts, got " +
              s"$shuffleJoins/$broadcastJoins:\n${p.take(3000)}")
          spark.stop(); sys.exit(1)
        }
      })
}
