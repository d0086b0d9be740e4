package graft.dev

/** Prints the EXECUTED adaptive plan (final, with ReusedExchange /
  * AQEShuffleRead nodes) of named battery queries — explain() on an
  * un-run adaptive plan shows isFinalPlan=false without reuse markers,
  * so seam-unification claims need this view (guide §7.2).
  *
  *   sbt "runMain graft.dev.ExecPlan <sfDir> <query...>"
  */
object ExecPlan {
  def main(args: Array[String]): Unit = {
    graft.SparkEntry.checkCli("graft.dev.ExecPlan <sfDir> <query...>",
      args.nonEmpty, args.toSeq.drop(1))
    val sfDir = args(0)
    val spark = graft.core.Session.builder(graft.core.Session.cpus).getOrCreate()
    for (q <- args.drop(1)) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      graft.Bench.materialize(df)
      println(s"===== $q (executed) =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
