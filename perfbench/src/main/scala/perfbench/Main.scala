package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One benchmark process: generate the input, set up a session and run the
  * first, cold operation (`setup_s`), warm up until operations stop
  * getting faster, then measure.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * The last stdout line is `RESULT {json}`. A traced run also writes its
  * spans and counters to `DIR/trace.jsonl`.
  */
object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "input_mb_per_s", "cpu_s", "peak_heap_mb")

  /** Per-layer metrics of a traced run, each reported per warm operation
    * (the median over the traced operations). A workload that does not
    * use a layer reports 0 for it. */
  val Layers: Seq[String] = Seq(
    "driver.build_s", "driver.cpu_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "codegen.fallback_ops",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "cores.busy_frac",
    "tasks.run_s", "tasks.gc_s", "tasks.deserialize_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.disk_mb",
    "sources.scan_s", "sources.records", "sources.tasks",
    "tokenize.self_s", "tokenize.tokens",
    "wordstats.self_s", "wordstats.rows_out", "wordstats.distinct_frac",
    "sinks.csv_s", "sinks.parquet_s", "sinks.bytes_mb", "sinks.files", "pipeline.cache_mb",
    "neardup.pairs_s", "neardup.shingles", "neardup.candidates", "neardup.pairs", "neardup.confirm_frac",
    "clusters.resolve_s", "clusters.jobs", "clusters.checkpoint_mb")

  /** Warm-up ends after this many operations in a row that are not
    * faster than the best so far by at least [[WarmGain]]. */
  val WarmPatience = 2
  val WarmGain = 0.03

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def session(nproc: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => fail(s"expected --name value pairs, got ${other.mkString(" ")}")
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, fail(s"missing --$k"))
    def num(k: String): Long = Try(opt(k).toLong).getOrElse(fail(s"--$k must be a whole number"))
    val workload = Try(Workloads(opt("workload"))).fold(e => fail(e.getMessage), identity)
    val seed = num("seed")
    val seconds = num("seconds").toDouble
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case v => fail(s"--trace must be 0 or 1, got $v")
    }
    if (seconds < 1) fail("--seconds must be at least 1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors

    val inputBytes = workload.generate(work.resolve("input"), seed)
    val inputMb = inputBytes / 1e6
    // the harness's own live data, mostly the generator's truth, is
    // measured before Spark starts and left out of peak_heap_mb
    val baseHeap = HeapWatch.collected()

    var attempted = 0
    var failed = 0
    var checkS = 0.0

    /** Outcome of one operation's check; the operation's output is removed. */
    def checked(i: Int, out: Path, run: Try[() => Option[String]]): Unit = {
      attempted += 1
      val start = System.nanoTime
      val err = run.flatMap(check => Try(check())) match {
        case Success(e) => e
        case Failure(e) => Some(e.toString)
      }
      err.foreach { e =>
        failed += 1
        System.err.println(s"perfbench: ${workload.name} operation $i failed: $e")
      }
      deleteTree(out)
      checkS += (System.nanoTime - start) / 1e9
    }

    // set-up: session start and the first, cold operation, timed as a
    // batch job pays them; no collection or barrier job runs before it
    val setupStart = System.nanoTime
    val spark = session(nproc, work)
    val meter = new Meter(spark)
    val off = new Tracer(spark, meter, enabled = false, workload.name)
    val coldOut = work.resolve("out").resolve("op0")
    val cold = Try(workload.op(spark, coldOut, off))
    val setupS = (System.nanoTime - setupStart) / 1e9
    checked(0, coldOut, cold)
    System.err.println(f"perfbench: ${workload.name} input ${inputMb}%.2f MB, setup ${setupS}%.3f s")

    final case class Sample(wall: Double, cpu: Double, heap: Long)
    var opIndex = 1
    def plainOp(): Sample = {
      val i = opIndex
      opIndex += 1
      val out = work.resolve("out").resolve(s"op$i")
      System.gc()
      meter.barrier()
      meter.take()
      HeapWatch.reset()
      val start = System.nanoTime
      val run = Try(workload.op(spark, out, off))
      val wall = (System.nanoTime - start) / 1e9
      meter.barrier()
      val c = meter.take()
      val heap = HeapWatch.peakBytes
      checked(i, out, run)
      Sample(wall, c.cpuNs / 1e9, heap)
    }

    def emit(metrics: Seq[(String, Double)]): Unit = {
      val result = Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.toMap))
      println("RESULT " + result)
    }

    // warm-up: until WarmPatience operations in a row are no faster, or
    // for at most --seconds
    val warmStart = System.nanoTime
    var best = Double.MaxValue
    var stall = 0
    var warmOps = 0
    while (stall < WarmPatience && (System.nanoTime - warmStart) / 1e9 < seconds) {
      val s = plainOp()
      warmOps += 1
      if (s.wall < best * (1 - WarmGain)) { best = s.wall; stall = 0 } else stall += 1
    }
    System.err.println(f"perfbench: warm-up $warmOps ops in ${(System.nanoTime - warmStart) / 1e9}%.1f s")

    if (!traced) {
      val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
      while (samples.size < 3 || samples.map(_.wall).sum < seconds) samples += plainOp()
      val walls = samples.map(_.wall).toSeq
      System.err.println(s"perfbench: timed ${samples.size} ops, walls ${walls.map(w => f"$w%.3f").mkString(" ")}")
      System.err.println(s"perfbench: heap peaks MB ${samples.map(s => f"${s.heap / 1e6}%.0f").mkString(" ")}, " +
        f"harness before set-up ${baseHeap / 1e6}%.0f")
      emit(Seq(
        "setup_s" -> setupS,
        "input_mb_per_s" -> inputMb / median(walls),
        "cpu_s" -> median(samples.map(_.cpu).toSeq),
        "peak_heap_mb" -> (median(samples.map(_.heap.toDouble).toSeq) - baseHeap) / 1e6))
    } else {
      val tracer = new Tracer(spark, meter, enabled = true, workload.name)
      val perOp = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      val opWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val traceStart = System.nanoTime
      while (perOp.isEmpty || (System.nanoTime - traceStart) / 1e9 < seconds) {
        val i = opIndex
        opIndex += 1
        tracer.op = i
        val out = work.resolve("out").resolve(s"op$i")
        System.gc()
        val run = Try(workload.layers(spark, out, tracer))
        checked(i, out, run.map(_._1))
        // a traced operation that cannot produce its layer metrics stops the run
        val owned = run.fold(e => fail(s"traced operation $i failed: $e"), _._2)
        val opSpan = tracer.last("op")
        opWalls += opSpan.seconds
        perOp += Layers.map(_ -> 0.0).toMap ++ common(tracer, opSpan, nproc) ++ owned
      }
      val layers = Layers.map(k => k -> median(perOp.map(_(k)).toSeq))
      val tracedRate = inputMb / median(opWalls.toSeq)
      System.err.println(f"perfbench: traced ${perOp.size} ops, traced input_mb_per_s $tracedRate%.4f")
      tracer.write(work.resolve("trace.jsonl"), layers :+ ("traced.input_mb_per_s" -> tracedRate))
      emit(layers)
    }
    System.err.println(f"perfbench: checks took $checkS%.1f s in all")
    meter.detach()
    spark.stop()
  }

  /** Layer metrics every workload has, from the spans below "op". */
  private def common(t: Tracer, opSpan: Tracer.Span, nproc: Int): Map[String, Double] = {
    val sub = t.subtree("op")
    val c = new Counters
    sub.foreach(s => c.add(s.c))
    val qes = c.queries.distinct.toSeq
    def phase(p: String): Double =
      qes.flatMap(_.tracker.phases.get(p)).map(_.durationMs).sum / 1e3
    Map(
      "driver.build_s" -> sub.filter(s => s.name.startsWith("build:") && s.parent.contains("op")).map(_.seconds).sum,
      "driver.cpu_s" -> opSpan.cpuNs / 1e9,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "codegen.fallback_ops" -> qes.map(q => Plans.fallbacks(q.executedPlan)).sum.toDouble,
      "scheduler.jobs" -> c.jobs.toDouble,
      "scheduler.stages" -> c.stages.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble,
      "cores.busy_frac" -> c.runMs / 1e3 / (opSpan.seconds * nproc),
      "tasks.run_s" -> c.runMs / 1e3,
      "tasks.gc_s" -> c.gcMs / 1e3,
      "tasks.deserialize_s" -> c.deserializeMs / 1e3,
      "shuffle.write_mb" -> c.shuffleWrite / 1e6,
      "shuffle.read_mb" -> c.shuffleRead / 1e6,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "spill.disk_mb" -> c.spillDisk / 1e6)
  }
}
