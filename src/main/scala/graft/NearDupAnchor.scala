package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The near-dup family at the reference's own 4 GB scale, on REAL text
  * — the r15 verdict ask. The soaks replicate the parquet fixtures with
  * synthetic markers; SCALE4G anchors only the wordstats pipeline. Real
  * Gutenberg text has the Zipf hot-shingle skew the `maxDocFreq` dial
  * exists for, so this main measures the family where that skew lives:
  * the [[graft.ScaleAnchor]] books corpus (the reference's duplication
  * recipe, `/root/reference/example/generate_test_data.py:66-67`, with
  * the per-replica token markers ScaleAnchor documents).
  *
  * Four measurements, one committed record (NEARDUP4G.json):
  *
  *  1. **MinHash banding curve** (1/2/4 GB): per size, the signature
  *     pass wall (the corpus scan), the banded candidate count off the
  *     CHECKPOINTED signature table (r = 2 — the 100 TB dial), and the
  *     exact-Jaccard confirm wall + confirmed rows. Replicas are
  *     token-disjoint, so cross-replica candidates are banding noise
  *     and within-replica candidates come from the 14 real books'
  *     genuine shingle overlap — candidates must grow ∝ corpus size.
  *  2. **df-cap engagement**: the shingle document-frequency profile
  *     of real text at 4 GB — distinct shingles, shingles over the
  *     cap, and the candidate-pair mass Σ C(df,2) the cap AVOIDS vs
  *     what the capped n-gram path would pay. On Zipf text the avoided
  *     mass dwarfs the paid mass; this is the number that justifies
  *     `maxDocFreq` existing at all.
  *  3. **pHash recall of the planted duplication** (smallest size):
  *     the reference's recipe makes every replica of a book a true
  *     byte-domain near-duplicate of every other (the marker suffixes
  *     only rescale the stream — inside blockhash's invariance class,
  *     the measured Soak.scala premise), so the TRUTH is quadratic in
  *     the replica count: 14·C(replicas,2) pairs. pHash's cost is
  *     ∝ its own correct output here — run at the smallest curve size
  *     and score recall/precision against the known book-replica
  *     relation. (This is why the pHash point is not a linearity gate:
  *     no correct operator can emit fewer rows than the truth.)
  *  4. **MinHash recall of PLANTED token-domain twins** at the FULL
  *     size: one 2%-token-deleted twin per replica-0 book unioned into
  *     the whole corpus (exact Jaccard ≈ 0.90 by construction — above
  *     the 0.8 confirm threshold), found through the same r=2 banding
  *     the noise curve runs. The curve's 0-confirmed shows rejection;
  *     this shows detection in the full haystack.
  */
object NearDupAnchor {

  def main(args: Array[String]): Unit = {
    val sizesMb: Seq[Long] = sys.env.getOrElse(
      "SPARK_GRAFT_NEARDUP_SIZES_MB", "1024,2048,4096")
      .split(",").map(_.trim.toLong).toSeq.sorted
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale4g/books")
    val cpus = graft.core.Session.cpus
    val dfCap = sys.env.getOrElse("SPARK_GRAFT_NEARDUP_DF_CAP", "20").toLong

    val genT0 = System.nanoTime()
    val fullDir = java.nio.file.Paths.get(outRoot)
    val (bytes, nReplicas, nBooks) =
      ScaleAnchor.generate(fullDir, sizesMb.max << 20)
    val genSec = (System.nanoTime() - genT0) / 1e9
    val perReplica = bytes / nReplicas

    val spark = graft.core.Session.builder(cpus).getOrCreate()

    import graft.operators.{Multimodal, NearDup}

    /** One doc per FILE: content via the whole-file source (books are
      * ~1 MB — far under the whole-file task bound), id = xxhash64 of
      * the path (4,620 names; collision odds ~n²/2⁶⁴ ≈ 10⁻¹²). */
    def docs(dir: java.nio.file.Path): DataFrame =
      graft.sources.WholeTextSource(Seq(dir.toString)).load(spark)
        .select(xxhash64(col("file_path")).as("doc_id"),
          col("content").as("text"), col("file_path"))

    def replicasFor(sizeMb: Long): Int = math.min(nReplicas.toLong,
      math.max(1L, math.ceil((sizeMb << 20).toDouble / perReplica).toLong)).toInt

    // ALWAYS the hard-linked subset, never the full dir: the corpus dir
    // may hold replicas from an earlier LARGER-target run (generate()
    // only adds files), so "n == this run's nReplicas" does not imply
    // the dir contains exactly n replicas — a 64 MB smoke against a
    // leftover 4 GB dir would silently measure 4 GB (it did).
    def dirFor(n: Int): java.nio.file.Path = ScaleAnchor.subsetDir(fullDir, n)

    // untimed warmup on ONE replica's worth absorbs JVM/codegen cost
    // (same discipline as ScaleAnchor — without it the smallest curve
    // point's sig wall is mostly JIT, not the corpus pass)
    NearDup.minHashSignatures(NearDup.shingles(docs(dirFor(1))))
      .queryExecution.toRdd.count()

    // ---- 1. the MinHash banding curve --------------------------------
    val curve = sizesMb.map { sizeMb =>
      val nRep = replicasFor(sizeMb)
      val d = docs(dirFor(nRep))
      val sh = NearDup.shingles(d).repartition(col("doc_id"))
      val t0 = System.nanoTime()
      // the corpus pass: k longs per doc, checkpointed — the seam a
      // deployment persists between runs
      val sigs = NearDup.minHashSignatures(sh).localCheckpoint()
      val sigSec = (System.nanoTime() - t0) / 1e9
      val cand = NearDup
        .bandedCandidatesFromSignatures(sigs, rowsPerBand = 2)
        .localCheckpoint()
      val nCand = cand.count()
      val t1 = System.nanoTime()
      val confirmed = NearDup.confirm(cand, sh, "doc_id")
      val nConf = confirmed.count()
      val confirmSec = (System.nanoTime() - t1) / 1e9
      val mb = nRep.toLong * perReplica / 1048576.0
      graft.core.IterCheckpoint.release(sigs)
      graft.core.IterCheckpoint.release(cand)
      // progress to stderr: the 4 GB point runs minutes — a silent main
      // is indistinguishable from a hung one
      System.err.println(f"[neardup4g] ${mb}%.0f MB: sig ${sigSec}%.1f s, " +
        f"$nCand candidates, confirm ${confirmSec}%.1f s, $nConf confirmed")
      (mb, nRep, sigSec, nCand, confirmSec, nConf)
    }

    // candidate linearity across the curve: candidates per MB at the
    // largest size over candidates per MB at the smallest
    val candPerMb = curve.map { case (mb, _, _, c, _, _) => c / mb }
    val candGrowth =
      if (candPerMb.head > 0) candPerMb.last / candPerMb.head else 1.0

    // ---- 2. df-cap engagement on the full corpus ---------------------
    val dfT0 = System.nanoTime()
    val dFull = docs(dirFor(replicasFor(sizesMb.max)))
    val df = NearDup.shingles(dFull)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pairMass = df.agg(
      count(lit(1)).as("distinct_shingles"),
      max(col("df")).as("max_df"),
      sum(when(col("df") > dfCap, lit(1)).otherwise(lit(0))).as("hot_shingles"),
      // df·(df−1) is always even ⇒ >>1 is the exact integer C(df,2);
      // the `/ 2` operator is DOUBLE division (a getLong on its sum
      // threw), and a cast would round through a 2^53 mantissa
      sum(when(col("df") > dfCap, shiftright(col("df") * (col("df") - 1), 1))
        .otherwise(lit(0))).as("avoided_pairs"),
      sum(when(col("df") <= dfCap, shiftright(col("df") * (col("df") - 1), 1))
        .otherwise(lit(0))).as("paid_pairs")).head()
    val (nShingles, maxDf, hotShingles, avoided, paid) =
      (pairMass.getLong(0), pairMass.getLong(1), pairMass.getLong(2),
        pairMass.getLong(3), pairMass.getLong(4))
    val dfSec = (System.nanoTime() - dfT0) / 1e9
    System.err.println(f"[neardup4g] df profile ${dfSec}%.1f s: " +
      f"$nShingles shingles, max_df $maxDf, $hotShingles hot, " +
      f"avoided $avoided vs paid $paid")

    // ---- 3. pHash recall of the planted duplication (smallest size) --
    val phRep = replicasFor(sizesMb.min)
    val phDocs = docs(dirFor(phRep))
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        // book identity = the file name minus the replica marker: the
        // TRUTH relation is "same book, different replica"
        regexp_replace(element_at(split(col("file_path"), "/"), -1),
          "_r\\d{4}\\.txt$", "").as("book"))
      .localCheckpoint()
    val phT0 = System.nanoTime()
    val found = Multimodal.pHashPairsScaled(phDocs).localCheckpoint()
    val nFound = found.count()
    val phSec = (System.nanoTime() - phT0) / 1e9
    val books = phDocs.select(col("doc_id"), col("book"))
    val truth = books.select(col("doc_id").as("doc_a"), col("book"))
      .join(books.select(col("doc_id").as("doc_b"), col("book")), "book")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val nTruth = truth.count()
    val hit = found.select("doc_a", "doc_b")
      .join(truth, Seq("doc_a", "doc_b"), "left_semi").count()
    val recallMilli = if (nTruth > 0) hit * 1000 / nTruth else 0L
    val precMilli = if (nFound > 0) hit * 1000 / nFound else 0L
    graft.core.IterCheckpoint.release(found)
    graft.core.IterCheckpoint.release(phDocs)

    // ---- 4. MinHash recall of PLANTED token-domain twins, full size --
    // The curve's 0-confirmed is the noise-rejection half; this is the
    // detection half: for each replica-0 book, a twin with every 50th
    // token dropped (2% deletion; with 3-word shingles shared-shingle
    // fraction ≈ 1 − 3·0.02 = 0.94 ⇒ exact Jaccard ≈ 0.94/1.04 ≈ 0.90,
    // above the 0.8 confirm threshold with ~8.7% slack, and band-miss
    // probability (1 − J²)⁸ ≈ 4·10⁻⁶ per pair). The twins are planted
    // into the FULL corpus — the needle must be found in the whole
    // 4 GB haystack, through the same banding the noise curve runs.
    val mhT0 = System.nanoTime()
    val fullDocs = docs(dirFor(replicasFor(sizesMb.max)))
    // twins and truth derive from the SAME frame's replica-0 rows —
    // doc_id is xxhash64(file_path), so the twin and its truth pair
    // must hash the same path string (a subset dir's path differs)
    val rep0 = fullDocs.filter(col("file_path").endsWith("_r0000.txt"))
    val twins = rep0.select(
      xxhash64(concat(col("file_path"), lit("#twin"))).as("doc_id"),
      array_join(
        filter(split(col("text"), "\\s+"), (t, i) => i % 50 =!= 49),
        " ").as("text"),
      concat(col("file_path"), lit("#twin")).as("file_path"))
    val planted = fullDocs.unionByName(twins)
    val shP = NearDup.shingles(planted).repartition(col("doc_id"))
    val sigP = NearDup.minHashSignatures(shP).localCheckpoint()
    val candP = NearDup
      .bandedCandidatesFromSignatures(sigP, rowsPerBand = 2)
      .localCheckpoint()
    val confP = NearDup.confirm(candP, shP, "doc_id").localCheckpoint()
    val nConfP = confP.count()
    // truth: (replica-0 book, its twin), id order normalized
    val truthMh = rep0.select(
      least(col("doc_id"),
        xxhash64(concat(col("file_path"), lit("#twin")))).as("doc_a"),
      greatest(col("doc_id"),
        xxhash64(concat(col("file_path"), lit("#twin")))).as("doc_b"))
    val nTruthMh = truthMh.count()
    val hitMh = confP.select("doc_a", "doc_b")
      .join(truthMh, Seq("doc_a", "doc_b"), "left_semi").count()
    val mhRecallMilli = if (nTruthMh > 0) hitMh * 1000 / nTruthMh else 0L
    val mhSec = (System.nanoTime() - mhT0) / 1e9
    graft.core.IterCheckpoint.release(sigP)
    graft.core.IterCheckpoint.release(candP)
    graft.core.IterCheckpoint.release(confP)
    System.err.println(f"[neardup4g] planted twins ${mhSec}%.1f s: " +
      f"$hitMh/$nTruthMh found, $nConfP confirmed total")

    // ---- record -------------------------------------------------------
    val curveJson = curve.map { case (mb, nRep, sigSec, nCand, confSec, nConf) =>
      f"""{"mb":$mb%.1f,"replicas":$nRep,"files":${nRep * nBooks},"sig_sec":$sigSec%.2f,"candidates":$nCand,"confirm_sec":$confSec%.2f,"confirmed":$nConf}"""
    }.mkString("[", ",", "]")
    val full =
      f"""{"metric":"neardup4g","bytes":$bytes,"gen_sec":$genSec%.1f,"minhash_banded_curve":$curveJson,"cand_per_mb_growth_max_over_min":$candGrowth%.2f,"df_cap":{"cap":$dfCap,"sec":$dfSec%.2f,"distinct_shingles":$nShingles,"max_df":$maxDf,"hot_shingles":$hotShingles,"avoided_pairs":$avoided,"paid_pairs":$paid},"phash":{"replicas":$phRep,"files":${phRep * nBooks},"sec":$phSec%.2f,"found":$nFound,"truth":$nTruth,"hit":$hit,"recall_milli":$recallMilli,"precision_milli":$precMilli},"minhash_planted_twins":{"sec":$mhSec%.2f,"corpus_docs":${replicasFor(sizesMb.max) * nBooks},"twins":$nTruthMh,"hit":$hitMh,"recall_milli":$mhRecallMilli,"confirmed_total":$nConfP},"cpus":$cpus}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("NEARDUP4G.json"), full)
    catch { case _: Throwable => () }
    // compact final line (the harness tail window)
    println(
      f"""{"metric":"neardup4g","mb":${curve.last._1}%.1f,"candidates":${curve.last._4},"confirmed":${curve.last._6},"cand_per_mb_growth":$candGrowth%.2f,"df_cap_avoided_pairs":$avoided,"phash_recall_milli":$recallMilli,"minhash_twin_recall_milli":$mhRecallMilli,"full":"NEARDUP4G.json"}""")
    spark.stop()
  }
}
