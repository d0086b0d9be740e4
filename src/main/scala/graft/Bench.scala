package graft
import org.apache.spark.sql.DataFrame

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Failure-honest: a query
  * that throws is recorded with ok=false and its error, and the headline
  * total only sums successful queries, so a half-broken build can never
  * report plausible-looking numbers. One untimed warmup pass (flagship
  * entry at sf0.001) absorbs JVM/codegen startup cost.
  *
  * Each query is measured as the MIN of [[Bench.Reps]] back-to-back
  * runs: a single-shot reading over a 100+-query battery records GC /
  * JIT / machine-contention spikes as if they were plan costs (r6's
  * committed file had zero-shuffle narrow projections at 17× their
  * steady-state time). Min-of-N is the standard contention-robust
  * estimator for a deterministic workload — the plan can't run FASTER
  * than its true cost, so the min converges on the plan and discards
  * the noise.
  *
  * The timed action is [[Bench.materialize]], NOT `count()`: count()
  * plans an empty-column aggregate, and for a pure-projection query
  * ColumnPruning then deletes every projected expression — the bench
  * would measure a bare parquet scan. Iterating the executed plan's
  * own RDD forces every output column of the real plan to be computed.
  */
object Bench {

  /** Full materialization of a query: produce every UnsafeRow of the
    * physical plan (all projections evaluated), driver only counts. */
  def materialize(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Host-calibration probe: a FIXED amount of deterministic CPU work
    * (a 64-bit fmix-style hash loop — pure register arithmetic, no
    * allocation, no I/O) timed on one thread and on all battery
    * threads, immediately before and after the battery. The committed
    * record then carries its own evidence of host conditions: two runs
    * of identical code whose totals differ 1.3× but whose probe times
    * differ 1.3× are the same build on a degraded host, not a
    * regression — adjudicable from the artifact alone instead of from
    * unreplayable re-runs (the r13 verdict needed four same-HEAD
    * batteries to prove a 28% swing was host noise). The checksum is
    * deterministic for fixed (seed, iters), so the record also proves
    * the work was actually done and identical across rounds. */
  object HostProbe {
    /** Mixer rounds per thread per measurement (~0.2-0.4 s on an idle
      * core: the probe adds well under 2 s to the battery). */
    val Iters: Long =
      sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", (1L << 27).toString).toLong

    /** MurmurHash3-fmix64-style loop; the running index feed keeps the
      * loop non-collapsible and the returned checksum makes dead-code
      * elimination impossible (the caller records it). */
    def mixChecksum(seed: Long, iters: Long): Long = {
      var x = seed
      var i = 0L
      while (i < iters) {
        x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
        x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
        x ^= x >>> 33; x += i
        i += 1
      }
      x
    }

    /** The multi-thread reading alone — the mid-run re-probe's shape:
      * the drift baseline ([[Bench.priorProbeMt]]) is a multi-thread
      * time, so a ratio refresh needs only this half (~0.3-0.9 s
      * instead of the full pre/post pair). */
    def measureMt(threads: Int): Double = {
      val results = new Array[Long](threads)
      val ts = (0 until threads).map { t =>
        new Thread(() => results(t) = mixChecksum(1042L + t, Iters))
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      // fold the checksums into a sink the JIT can't elide
      if (results.foldLeft(0L)(_ ^ _) == 0x5ca1ab1eL) System.err.print("")
      sec
    }

    /** (seconds on 1 thread, seconds for `threads` threads running the
      * SAME per-thread work concurrently, xor of all checksums). On an
      * unloaded host the two are nearly equal; external contention
      * inflates the multi-thread reading first and hardest — the same
      * resource the battery competes for. */
    def measure(threads: Int): (Double, Double, Long) = {
      val t0 = System.nanoTime()
      var chk = mixChecksum(42L, Iters)
      val oneT = (System.nanoTime() - t0) / 1e9
      val results = new Array[Long](threads)
      // thread seeds are DISJOINT from the 1-thread run's seed 42: a
      // shared seed would XOR-cancel in the recorded checksum and the
      // artifact could no longer prove both loops actually ran
      val ts = (0 until threads).map { t =>
        new Thread(() => results(t) = mixChecksum(1042L + t, Iters))
      }
      val t1 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      val multiT = (System.nanoTime() - t1) / 1e9
      results.foreach(chk ^= _)
      (oneT, multiT, chk)
    }
  }

  /** Timed repetitions per query; the reported time is their min.
    * Clamped to ≥1 — a zero/negative override would skip the timing
    * loop entirely and record Double.MaxValue as a "measurement". */
  val Reps: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)

  /** Queries whose first-pass min exceeds this get a SECOND timing
    * pass after the whole battery has run. Back-to-back reps defeat
    * per-run noise (GC, JIT) but not a CONTENTION WINDOW: the r9
    * driver record shows three alphabetically-ADJACENT queries
    * (emb_pq_search, emb_pq_search_m16, emb_quantize) at 3-8× their
    * steady state — an external event spanning that stretch of the
    * battery inflates every rep taken inside it. The retry pass
    * re-measures minutes later, temporally decorrelated from any such
    * window, and keeps the min. */
  val RetrySec: Double =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_SEC", "2.0").toDouble

  /** Drift trigger for the retry pass: a query whose time exceeds the
    * per-query MIN of its recent full-battery runs by this factor is
    * re-measured even if it sits under [[RetrySec]]. The absolute
    * threshold has a blind spot the r11 record shows plainly:
    * sub-second queries whose code did not change showed phantom 3-4×
    * swings round-over-round (events_funnel 0.36 → 1.59 s) because a
    * contention window during their battery slot was never re-sampled.
    * And a SINGLE prior run is itself a noisy baseline — r12 showed
    * untouched-code 1.6-2.0× swings that a one-run 2.0× trigger let
    * through: the prior run's own inflated sample raised the bar for
    * the next. The min over the last [[HistoryDepth]] runs is the best
    * steady-state estimate available, so the factor can be tight
    * (1.5×) without mass-triggering. */
  val DriftFactor: Double =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_DRIFT_FACTOR", "1.5").toDouble

  /** How many recent full-battery records the drift baseline reads
    * from BENCH_HISTORY.jsonl (and how many it keeps when appending —
    * a couple spare lines beyond the read depth survive sf changes). */
  val HistoryDepth: Int = 3

  /** Per-query drift baseline: min seconds across the last
    * [[HistoryDepth]] MATCHING-SF full-battery records in
    * BENCH_HISTORY.jsonl. Only history records — BENCH_LAST.json is
    * deliberately NOT read: subset (`SPARK_GRAFT_BENCH_ONLY`) runs
    * overwrite it with warm low-contention times that would
    * mass-trigger the retry on the next full run (the exact poisoning
    * the appendHistory full-run gate exists to prevent). The sf filter
    * runs BEFORE takeRight, so a few runs at another scale factor
    * cannot blind the baseline while matching lines sit unreachable in
    * the file; times from a different sf are never a baseline (a
    * committed sf0.1 record would mass-trigger the retry at sf1).
    * Only entries recorded `"ok":true` count — a failed query's
    * time-to-error is typically short; using it as a baseline would
    * spuriously retry its first clean, slower run. Absent file, sf
    * mismatch, renamed queries → missing entries → no drift retry for
    * them; parse failures degrade to empty, never abort a bench. */
  /** The last [[HistoryDepth]] matching-sf full-battery records (sf
    * filter BEFORE takeRight — see [[priorSecs]]'s scaladoc). */
  private def recentRecords(sfDir: String, historyPath: String): Seq[String] = {
    def matchesSf(record: String): Boolean =
      s""""sf":"${java.util.regex.Pattern.quote(sfDir)}"""".r
        .findFirstIn(record).isDefined
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(historyPath),
          java.nio.charset.StandardCharsets.UTF_8)
        .asScala.toSeq.filter(_.nonEmpty)
        .filter(matchesSf)
        .takeRight(HistoryDepth)
    } catch { case _: Throwable => Seq.empty }
  }

  def priorSecs(
      sfDir: String,
      historyPath: String = "BENCH_HISTORY.jsonl"): Map[String, Double] = {
    def okSecs(record: String): Map[String, Double] =
      """"([A-Za-z0-9_]+)":\{"sec":([0-9.]+),"ok":true""".r
        .findAllMatchIn(record)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
    // parse failures degrade to empty, never abort a bench: a
    // hand-edited line like "sec":1..5 still matches [0-9.]+ and its
    // toDouble would otherwise crash main AFTER the battery ran
    try recentRecords(sfDir, historyPath)
      .flatMap(r => okSecs(r).toSeq)
      .groupMapReduce(_._1)(_._2)(math.min)
    catch { case _: Throwable => Map.empty }
  }

  /** MEDIAN multi-thread probe time across the same history records
    * [[priorSecs]] reads — the typical host speed those baseline times
    * were measured under. Median, not min (the r14 advice): with a min
    * denominator ordinary probe jitter always yields ratio > 1 and
    * permanently loosens the drift trigger on a healthy host
    * (0.68/0.62 → 1.10 turns the 1.5× trigger into 1.65×). None when
    * no record carries a probe, which disables host-ratio scaling. */
  def priorProbeMt(
      sfDir: String,
      historyPath: String = "BENCH_HISTORY.jsonl"): Option[Double] = {
    try {
      val vals = recentRecords(sfDir, historyPath)
        .flatMap(""""pre_mt":([0-9.]+)""".r.findFirstMatchIn(_))
        .map(_.group(1).toDouble)
        .filter(_ > 0)
        .sorted
      if (vals.isEmpty) None
      else Some(vals(vals.size / 2)) // upper median; exact for odd n
    } catch { case _: Throwable => None } // malformed value ≠ no bench
  }

  /** Probe ratios inside this band are same-host noise, not drift —
    * the ratio only scales the trigger once it clears the floor, so a
    * healthy host keeps the tight 1.5× trigger (the r14 advice). */
  val HostRatioFloor: Double = 1.15

  /** Floor-and-clamp a probe reading into a trigger-scaling ratio:
    * sub-floor jitter keeps the tight trigger (ratio 1); a pathological
    * reading can't disable drift detection entirely (≤ 3). `priorMt`
    * None (no probe in history) → 1, the pre-probe era's behavior. */
  def clampRatio(mt: Double, priorMt: Option[Double]): Double =
    priorMt.map { h =>
      val r = mt / h
      if (r < HostRatioFloor) 1.0 else math.min(3.0, r)
    }.getOrElse(1.0)

  /** After this many CONSECUTIVE drift-trigger firings the retry pass
    * re-probes the host instead of trusting the pre-run reading. One
    * contention window hits a couple of adjacent queries; a genuine
    * mid-run host slowdown makes EVERY query trigger — the r15 driver
    * record fired 80 futile retries exactly because host_ratio was
    * computed from the pre-run probe only, while the host degraded 19%
    * during the battery (post_mt 0.68→0.93). Clustered triggers are
    * the signature of the latter; the refreshed ratio re-scales the
    * trigger so a degraded host de-flags the cluster. */
  val ReprobeAfter: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPROBE_AFTER", "5").toInt)

  /** Cumulative retry-wall budget, as a fraction of the first-pass
    * battery total. The r16 driver record burned 115.7 s of retries
    * (56 % of the 206 s query total) on a host the probe measured
    * FASTER than history: per-query priors recorded in a different
    * contention window fire the 1.5×-prior trigger on ordinary
    * variance, and a retry cannot beat variance — each re-pass costs
    * real wall and recovers at most noise. The budget bounds the
    * worst case structurally: however poisoned the priors, the retry
    * pass can spend at most this fraction of the battery again
    * (≈13 s on the sf0.1 battery), and the record reports what the
    * cap denied (`retry_denied`) so a capped run adjudicates itself. */
  val RetryBudgetFrac: Double =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_BUDGET_FRAC", "0.15").toDouble

  /** Budget floor: a tiny subset battery still gets one meaningful
    * retry rather than a sub-second budget denying everything. */
  val RetryBudgetFloorSec: Double = 5.0

  /** The retry pass's decision state — extracted from main so the
    * mid-run re-probe policy is a testable unit (BenchProbeSpec).
    *
    * Trigger policy (tightened from the r1-r15 absolute threshold):
    *  - a query WITH a history baseline retries only on the drift
    *    trigger `sec > DriftFactor · ratio · prior` — a slow query
    *    matching its own committed baseline carries no information a
    *    second pass could correct (the r15 record's 33 legitimately-
    *    slow queries all re-ran under the old unconditional RetrySec
    *    rule, pure wasted wall);
    *  - a query WITHOUT a baseline (new or renamed) keeps the absolute
    *    [[RetrySec]] threshold — one decorrelated re-pass before its
    *    first committed time becomes everyone's baseline.
    *
    * Re-probe policy: [[ReprobeAfter]] consecutive triggers → call
    * `probeMt`, refresh `ratio` from the fresh reading (the LATEST
    * host state, not a running max: if the host recovered, the tight
    * trigger returns and retries actually help again), and re-evaluate
    * the query that tripped the re-probe under the new ratio. */
  final class RetryGate(
      prior: Map[String, Double],
      priorMt: Option[Double],
      preRatio: Double,
      reprobeAfter: Int = ReprobeAfter,
      probeMt: () => Double = () => Double.NaN,
      budgetSec: Double = Double.PositiveInfinity) {
    private var consecutive = 0
    /** The ratio the drift trigger is currently using. */
    var ratio: Double = preRatio
    /** Mid-run probe readings taken (committed into the record). */
    val reprobeMts = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** Wall spent inside mid-run probes. */
    var reprobeSec: Double = 0.0
    /** Cumulative retry wall charged against [[budgetSec]] (retry reps
      * via [[charge]] + the mid-run probes, which spend the same
      * budgeted wall). */
    var spentSec: Double = 0.0
    /** Triggered retries the exhausted budget denied — committed so a
      * capped run names what it skipped instead of silently passing. */
    var budgetDenied: Int = 0
    /** The NAMES the budget denied (r17 verdict item 2): a denied query
      * kept its first-pass time, so the round-over-round adjudicator
      * needs the list — a total inflated only at denied names is a
      * contention window the budget refused to re-sample, not a code
      * regression. Paired with `budgetDenied` (the authoritative count;
      * the compact stdout line may cap the list). */
    val deniedQueries = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Charge one retry rep's wall against the budget. */
    def charge(sec: Double): Unit = spentSec += sec

    private def triggers(name: String, sec: Double): Boolean =
      prior.get(name) match {
        case Some(p) if p > 0 => sec > DriftFactor * ratio * p
        case _ => sec > RetrySec
      }

    def shouldRetry(name: String, sec: Double): Boolean =
      if (!triggers(name, sec)) { consecutive = 0; false }
      else if (spentSec >= budgetSec) {
        // the trigger fired but the pass has spent its wall allowance:
        // past this point retries are exactly the r16 failure mode
        // (variance-chasing at 56% of the battery total), so deny and
        // count. `consecutive` is left as-is — denial is not evidence
        // about host drift either way.
        budgetDenied += 1
        deniedQueries += name
        false
      } else {
        consecutive += 1
        // re-probe only helps when a baseline exists to re-scale against
        if (consecutive >= reprobeAfter && priorMt.isDefined) {
          consecutive = 0
          val t0 = System.nanoTime()
          val mt = probeMt()
          val spent = (System.nanoTime() - t0) / 1e9
          reprobeSec += spent
          spentSec += spent
          reprobeMts += mt
          ratio = clampRatio(mt, priorMt)
          triggers(name, sec) // the tripping query, under the fresh ratio
        } else true
      }
  }

  /** Append this run's full record to BENCH_HISTORY.jsonl, pruning to
    * the newest 2×[[HistoryDepth]] lines. Full-battery non-soak runs
    * only (the caller gates): a warm-cache subset run's faster times
    * would drag the min down and spuriously retry every full run. */
  def appendHistory(
      line: String,
      historyPath: String = "BENCH_HISTORY.jsonl"): Unit =
    try {
      val p = java.nio.file.Paths.get(historyPath)
      val prior: Seq[String] =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files
            .readAllLines(p, java.nio.charset.StandardCharsets.UTF_8)
            .asScala.toSeq.filter(_.nonEmpty)
        } else Seq.empty
      val kept = (prior :+ line).takeRight(2 * HistoryDepth)
      java.nio.file.Files.writeString(p, kept.mkString("", "\n", "\n"))
    } catch { case _: Throwable => () } // never fail the bench over a file write

  /** Noise floor for the soak's candidate-join gate: the growth bound
    * applies only when the SCALED run's largest join frame exceeds
    * this many rows. The gate compares max-join to max-join, and the
    * two maxima need not be the same node — at small magnitudes the
    * scaled max is routinely a LINEAR vocabulary/dimension join that
    * merely overtook a tiny baseline pair join (text_tfidf_sim at the
    * 10× soak: baseline max 300 = the pair join, scaled max 4,750 =
    * the capped-vocab idf join — healthy, linear, 15.8× only because
    * the baseline was minuscule). A frame under 10k rows is smaller
    * than every fixture table; ratios on it measure which metadata
    * join won, not scan-scale risk. Every true quadratic the gate has
    * caught sat far above it (pHash 1.9·10⁸, LSH 2.5·10⁵, IVF-PQ
    * 2.9·10⁴). */
  val CandidateFloorRows: Long =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_CAND_FLOOR", "10000").toLong
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Session.cpus
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    // the seam/iterative-resolver releases fire one benign WARN per
    // unpersist ("locally checkpointed ... cannot be recomputed") —
    // a dozen of them sit right above the final JSON line and eat the
    // harness's 2000-char stdout tail; the release is deliberate
    // (IterCheckpoint's contract), so drop that one logger to ERROR
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

    try materialize(SparkEntry.entry(spark))
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // host-calibration probe, taken immediately before the battery (and
    // again after it): fixed deterministic work whose wall time lets a
    // record prove — by itself — whether a round-over-round swing is
    // host drift or a plan change. A short untimed call first absorbs
    // the probe loop's own JIT compilation.
    HostProbe.mixChecksum(7L, HostProbe.Iters / 16)
    val (pre1t, preMt, preChk) = HostProbe.measure(cpus)

    def esc(s: String): String =
      s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }

    // optional comma-separated query-name filter (local iteration aid,
    // mirrors Verify's 3rd arg; the driver always runs the full battery)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    // SPARK_GRAFT_BENCH_SCALE=N (N>1): soak mode. Replicate the fixture
    // N× with per-replica markers (Soak.materializeDir) and run the
    // candidate-generating queries on BOTH corpora, gating each on
    // growth ≤ 1.5·N of BOTH its output rows AND its largest executed
    // join frame (Soak.maxJoinOutputRows). Replicas share no
    // token/shingle, so a linear operator emits ~N× the rows of one
    // replica; a quadratic candidate path emits cross-replica rows and
    // blows one of the two bounds — the join-frame gate exists because
    // a tiny confirmed output can hide a 10⁸-row candidate join.
    val soakScale: Option[Int] =
      sys.env.get("SPARK_GRAFT_BENCH_SCALE").map(_.toInt).filter(_ > 1)
    val benchDir = soakScale match {
      case Some(nRep) => Soak.materializeDir(spark, sfDir, nRep)
      case None => sfDir
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) =>
        soakScale.isEmpty || Soak.soakQueries(SparkEntry.queries.keySet)(name) }

    // per-query attempt counts (pass-1 reps + retry reps) and the wall
    // spent in the retry pass — committed so round-over-round totals can
    // separate battery overhead (retries, probes) from engine cost
    val attempts = scala.collection.mutable.Map.empty[String, Int]

    val results = selected.map { case (name, fn) =>
      // min over Reps runs; stop timing at the first failure (reps of a
      // throwing query would just re-throw and double the error path).
      var best = Double.MaxValue
      var rows = -1L
      var cand = -1L
      var err: Option[String] = None
      var rep = 0
      while (rep < Reps && err.isEmpty) {
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, benchDir)
          rows = materialize(df)
          // soak only: biggest executed join frame — the candidate gate
          // (metric read is driver-side and free, but skip in timed
          // bench mode to keep the measured path identical to r1-r10)
          if (soakScale.isDefined) cand = Soak.maxJoinOutputRows(df)
        }
        catch { case e: Throwable =>
          err = Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
        val sec = (System.nanoTime() - t0) / 1e9
        if (err.isEmpty && sec < best) best = sec
        rep += 1
      }
      attempts(name) = rep
      // soak gate: untimed single run against the UNSCALED fixture for
      // the row/candidate baselines the growth bounds compare against.
      // BOTH frames are gated: output rows (what the query emits) and
      // the largest join intermediate (where the r10 pHash quadratic
      // hid — output stayed tiny while the candidate join went 10⁸).
      val growthBad: Option[String] = soakScale.flatMap { nRep =>
        if (err.isDefined) None
        else {
          val (rows1, cand1) = try {
            val df1 = fn(spark, sfDir)
            val r = materialize(df1)
            (r, Soak.maxJoinOutputRows(df1))
          } catch { case _: Throwable => (-1L, -1L) }
          if (rows1 < 0) Some("baseline run failed")
          else if (rows > 0 && rows1 == 0)
            Some(s"rows grew from 0 to $rows")
          else if (rows1 > 0 && rows.toDouble / rows1 > 1.5 * nRep)
            Some(f"rows $rows1 -> $rows (x${rows.toDouble / rows1}%.1f) " +
              s"exceeds 1.5x linear bound at scale $nRep")
          else if (cand > CandidateFloorRows && cand1 == 0)
            Some(s"candidate join rows grew from 0 to $cand")
          else if (cand > CandidateFloorRows && cand1 > 0 &&
              cand.toDouble / cand1 > 1.5 * nRep)
            Some(f"candidate join rows $cand1 -> $cand " +
              f"(x${cand.toDouble / cand1}%.1f) exceeds 1.5x linear " +
              s"bound at scale $nRep")
          else None
        }
      }
      (name, if (err.isEmpty) best else 0.0, rows, cand, err, growthBad)
    }

    // Decorrelated retry pass (non-soak only; soak gates rows, and its
    // per-query walls would double the run): a clean query slower than
    // DriftFactor × hostRatio × its committed history baseline — or,
    // for a query with NO baseline yet, slower than the absolute
    // RetrySec — is re-timed now, after every other query has run, so a
    // contention window during its battery slot can't be the only
    // sample; the min of both passes is reported. The trigger's host
    // ratio starts from the PRE-run probe and is REFRESHED mid-pass by
    // [[RetryGate]] whenever ReprobeAfter consecutive queries trigger:
    // that clustering is the signature of a mid-run host slowdown the
    // pre-only ratio can't see (the r15 record's 80-query storm), and
    // the refreshed ratio de-flags the cluster instead of burning a
    // futile retry per query.
    val prior = if (soakScale.isDefined) Map.empty[String, Double] else priorSecs(sfDir)
    val priorMt = if (soakScale.isDefined) None else priorProbeMt(sfDir)
    val hostRatioPre: Double = clampRatio(preMt, priorMt)
    // retry budget: a fraction of the FIRST-PASS battery total — the
    // retry pass can never again cost more than ~15% of what the
    // battery itself measured, however poisoned the priors are.
    val firstPassTotal = results.collect { case (_, s, _, _, None, None) => s }.sum
    val retryBudget =
      math.max(RetryBudgetFloorSec, RetryBudgetFrac * firstPassTotal)
    val gate = new RetryGate(prior, priorMt, hostRatioPre,
      probeMt = () => HostProbe.measureMt(cpus),
      budgetSec = retryBudget)
    val retried = scala.collection.mutable.ArrayBuffer.empty[String]
    var retrySec = 0.0
    val finalResults =
      if (soakScale.isDefined) results
      else results.map {
        case (name, sec, rows, cand, None, None) if gate.shouldRetry(name, sec) =>
          retried += name
          val fn = SparkEntry.queries(name)
          var best = sec
          var rep = 0
          var failed = false
          while (rep < Reps && !failed) {
            val t0 = System.nanoTime()
            try materialize(fn(spark, benchDir))
            catch { case _: Throwable => failed = true } // keep pass-1 result
            val s = (System.nanoTime() - t0) / 1e9
            retrySec += s
            gate.charge(s)
            if (!failed && s < best) best = s
            rep += 1
          }
          attempts(name) = attempts.getOrElse(name, 0) + rep
          (name, best, rows, cand, None, None)
        case r => r
      }
    retrySec += gate.reprobeSec

    val (post1t, postMt, postChk) = HostProbe.measure(cpus)
    // raw (unfloored) pre/post ratios + their mean: the record's own
    // evidence of host conditions across the WHOLE run. The advisory
    // drift-adjusted total divides by the interpolated slowdown
    // (clamped ≥ 1 — a faster-than-baseline host never inflates), so a
    // degraded record adjudicates itself instead of reading as a code
    // regression (the r15 227 s vs 193 s same-HEAD verdict work).
    val ratioPreRaw = priorMt.map(preMt / _).getOrElse(1.0)
    val ratioPostRaw = priorMt.map(postMt / _).getOrElse(1.0)
    val ratioInterp = (ratioPreRaw + ratioPostRaw) / 2

    val qs = finalResults.map { case (name, sec, rows, cand, err, growthBad) =>
      val candPart = if (soakScale.isDefined) ",\"candidates\":" + cand else ""
      val okPart = (err, growthBad) match {
        case (Some(m), _) => "\"ok\":false,\"error\":\"" + esc(m.take(200)) + "\""
        case (None, Some(g)) =>
          "\"ok\":false,\"rows\":" + rows + candPart +
            ",\"error\":\"" + esc(g.take(200)) + "\""
        case (None, None) if soakScale.isDefined =>
          "\"ok\":true,\"rows\":" + rows + candPart
        case (None, None) => "\"ok\":true"
      }
      // attempts AFTER ok: priorSecs' history regex anchors on
      // `"sec":X,"ok":true` and must keep matching old and new records
      "\"" + esc(name) + "\":{\"sec\":" + f"$sec%.4f" + "," + okPart +
        ",\"attempts\":" + attempts.getOrElse(name, Reps) + "}"
    }.mkString("{", ",", "}")
    val okResults = finalResults.collect { case (_, sec, _, _, None, None) => sec }
    val total = okResults.sum
    val nOk = okResults.size
    val n = finalResults.size
    val metric = if (soakScale.isDefined) "soak_total_ok" else "total_ok"
    // the excluded note derives from the SAME definition the gate
    // predicate uses (Soak.ExcludedNote / Soak.isExcluded) — the
    // committed artifact cannot misreport what was actually skipped
    val scalePart = soakScale
      .map { nRep =>
        val noted = Soak.ExcludedNote
          .map(n => "\"" + esc(n) + "\"").mkString("[", ",", "]")
        s""","scale":$nRep,"excluded":$noted"""
      }
      .getOrElse("")
    val retriedPart =
      if (retried.isEmpty) ""
      else retried.map(r => "\"" + esc(r) + "\"")
        .mkString(""","retried":[""", ",", "]")
    // fixed-work host calibration: 1-thread and all-thread wall times
    // before/after the battery + the deterministic checksum (proof the
    // work is identical across rounds). host_ratio is the FINAL value
    // the drift trigger used (pre-probe seeded, mid-run refreshed);
    // ratio_pre/ratio_post are the raw unfloored readings against the
    // history median, host_ratio_interp their mean, mid_mts any mid-run
    // re-probe readings the retry pass took.
    val midMts = gate.reprobeMts
      .map(v => f"$v%.4f").mkString("[", ",", "]")
    val probePart =
      f""","probe":{"pre_1t":$pre1t%.4f,"pre_mt":$preMt%.4f,"post_1t":$post1t%.4f,"post_mt":$postMt%.4f,"threads":$cpus,"iters":${HostProbe.Iters},"chk":"${(preChk * 31 + postChk).toHexString}","host_ratio":${f"${gate.ratio}%.3f"},"ratio_pre":$ratioPreRaw%.3f,"ratio_post":$ratioPostRaw%.3f,"host_ratio_interp":$ratioInterp%.3f,"mid_mts":$midMts}"""
    // drift-adjusted advisory total: total ÷ the interpolated slowdown
    // (≥ 1). NOT the headline — the measured total stays `value`; this
    // is the "what would an un-degraded host have measured" companion.
    val totalAdj = total / math.max(1.0, ratioInterp)
    // denied-retry names (full list here, capped in the compact line):
    // a run whose slow queries are exactly the denied ones adjudicates
    // as an unre-sampled contention window from the artifact alone
    def deniedJson(cap: Int): String = gate.deniedQueries.take(cap)
      .map(q => "\"" + esc(q) + "\"").mkString("[", ",", "]")
    val retryCostPart =
      f""","retry_sec":$retrySec%.2f,"retry_budget_sec":$retryBudget%.2f,"retry_denied":${gate.budgetDenied},"retry_denied_queries":${deniedJson(Int.MaxValue)},"total_drift_adjusted":$totalAdj%.2f"""
    val line =
      s"""{"metric":"$metric","value":$total,"unit":"sec","ok_queries":$nOk,"n_queries":$n,"queries":$qs,"sf":"$sfDir"$scalePart$retriedPart$retryCostPart$probePart}"""
    // The harness keeps only the last ~2000 chars of stdout and parses a
    // JSON line out of that tail — the full 169-query record is ~9 KB,
    // so every round r1-r14 landed `parsed: null`. Print a COMPACT
    // summary line (headline wordstats trio + slowest 5 + every
    // failure; always well under the tail window) as the final stdout
    // line; the full record goes to BENCH_LAST.json + history only.
    val headline = Set("wordstats", "wordstats_chunked", "wordstats_files")
    val slowest = finalResults
      .collect { case (nm, sec, _, _, None, None) => nm -> sec }
      .sortBy(-_._2).take(5).map(_._1).toSet
    val failedAll = finalResults
      .collect { case (nm, _, _, _, e, g) if e.isDefined || g.isDefined => nm }
    // the compact line names at most 20 failures but ALWAYS carries the
    // true count — a >20-failure run must be visible from stdout alone
    val failed = failedAll.take(20).toSet
    val compactQs = finalResults
      .filter { case (nm, _, _, _, _, _) =>
        headline(nm) || slowest(nm) || failed(nm) }
      .map { case (nm, sec, _, _, e, g) =>
        val ok = e.isEmpty && g.isEmpty
        "\"" + esc(nm) + "\":{\"sec\":" + f"$sec%.4f" + ",\"ok\":" + ok + "}"
      }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"$metric","value":$total,"unit":"sec","ok_queries":$nOk,"n_queries":$n,"failed_total":${failedAll.size},"retried":${retried.size},"retry_sec":${f"$retrySec%.2f"},"retry_budget_sec":${f"$retryBudget%.2f"},"retry_denied":${gate.budgetDenied},"retry_denied_queries":${deniedJson(12)},"total_drift_adjusted":${f"$totalAdj%.2f"},"queries":$compactQs,"queries_full":"${if (soakScale.isDefined) "SOAK_LAST.json" else "BENCH_LAST.json"}","sf":"$sfDir","host_ratio":${f"${gate.ratio}%.3f"},"host_ratio_interp":${f"$ratioInterp%.3f"},"probe_pre_mt":${f"$preMt%.4f"}}"""
    println(compact)
    // Also persist the full per-query map: harness-side artifacts keep
    // only an stdout tail, which cannot substantiate per-query failures
    // (the r8 advice) — BENCH_LAST.json always holds the whole record.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        if (soakScale.isDefined) "SOAK_LAST.json" else "BENCH_LAST.json"), line)
    catch { case _: Throwable => () } // never fail the bench over a file write
    if (soakScale.isEmpty && only.isEmpty) appendHistory(line)
    spark.stop()
    if (nOk < n) sys.exit(1)
  }
}
