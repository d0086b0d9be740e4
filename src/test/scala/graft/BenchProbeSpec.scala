package graft

/** [[Bench]]'s measurement pieces: the host-calibration probe (pure
  * JVM) and the job-group meter that splits each query's Spark work. */
class BenchProbeSpec extends SparkSpecBase {

  test("mixChecksum is deterministic fixed work, sensitive to seed and iters") {
    val a = Bench.HostProbe.mixChecksum(42L, 100000L)
    assert(a === Bench.HostProbe.mixChecksum(42L, 100000L))
    assert(a !== Bench.HostProbe.mixChecksum(43L, 100000L))
    assert(a !== Bench.HostProbe.mixChecksum(42L, 100001L))
  }

  test("measure returns positive wall times and a run-stable checksum") {
    val (one1, mt1, chk1) = Bench.HostProbe.measure(threads = 2)
    val (_, _, chk2) = Bench.HostProbe.measure(threads = 2)
    assert(one1 > 0 && mt1 > 0)
    // same seeds + same iters + same thread count → identical checksum:
    // the committed record's chk field proves rounds did identical work
    assert(chk1 === chk2)
  }

  test("GroupMeter counts each tagged query's own jobs, stages and tasks") {
    import spark.implicits._
    val sc = spark.sparkContext
    val meter = new Bench.GroupMeter(sc)
    try {
      val narrow = spark.range(0, 1000, 1, 3).select(($"id" * 2).as("x"))
      val grouped = spark.range(0, 1000, 1, 3)
        .groupBy(($"id" % 7).as("k")).count()
      meter.tagged("narrow")(Bench.materialize(narrow))
      meter.tagged("shuffle") {
        Bench.materialize(grouped.repartition(2))
      }
      // a pool created inside the build, like emb_ann_frontier's: its
      // threads inherit the group, so their jobs count to this query
      meter.tagged("pooled") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val fs = (1 to 2).map(i => pool.submit(() =>
            Bench.materialize(spark.range(0, 100L * i, 1, 2).toDF())))
          fs.foreach(_.get())
        } finally pool.shutdown()
      }
      // untagged work is nobody's
      Bench.materialize(spark.range(10).toDF())
      val counts = meter.settle()
      // no exchange: one job, one stage of three tasks
      assert(counts("narrow").jobs === 1)
      assert(counts("narrow").stages === 1)
      assert(counts("narrow").tasks === 3)
      // the shuffles add map stages: more stages than the narrow query
      assert(counts("shuffle").jobs >= 1)
      assert(counts("shuffle").stages > counts("narrow").stages)
      assert(counts("shuffle").tasks > counts("narrow").tasks)
      assert(counts("shuffle").taskMs >= 0L)
      assert(counts("pooled").jobs === 2)
      assert(counts("pooled").stages === 2)
      assert(counts("pooled").tasks === 4)
    } finally sc.removeSparkListener(meter)
  }
}
