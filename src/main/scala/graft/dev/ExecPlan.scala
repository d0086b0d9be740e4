package graft.dev

import org.apache.spark.sql.SparkSession

/** Prints the EXECUTED adaptive plan (final, with ReusedExchange /
  * AQEShuffleRead nodes) of named battery queries — explain() on an
  * un-run adaptive plan shows isFinalPlan=false without reuse markers,
  * so seam-unification claims need this view (guide §7.2).
  *
  *   sbt "runMain graft.dev.ExecPlan <sfDir> <query...>"
  */
object ExecPlan {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.dev.ExecPlan <sfDir> <query...>")
      sys.exit(2)
    }
    val queries = graft.SparkEntry.queries
    val unknown = args.drop(1).filterNot(queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query: ${unknown.mkString(", ")}; valid queries: " +
        queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- args.drop(1)) {
      val df = queries(q)(spark, sfDir)
      graft.Bench.materialize(df)
      println(s"===== $q (executed) =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
