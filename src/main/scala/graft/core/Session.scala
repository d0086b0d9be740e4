package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the test base build through
  * [[builder]], so their confs, log level and SQL surface cannot drift. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, otherwise the host's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core and the
    * [[graft.GraftExtensions]] functions registered. `events.parquet`'s
    * `ts` has shipped both as TIMESTAMP(NANOS), which needs `nanosAsLong`,
    * and as naive timestamp[us], whose lossless cast needs UTC; see
    * [[graft.SparkEntry.normalizeEventTs]]. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")
    .withExtensions(new graft.GraftExtensions)
}
