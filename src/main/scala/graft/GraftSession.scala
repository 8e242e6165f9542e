package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session definition: Bench, Verify and the tests all build
  * their session here, so the oracle gate, the timings and the tests share one
  * semantics (ANSI on, AQE on, UTC, the graft extensions). */
object GraftSession {
  def conf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.expr.GraftExtensions",
    "spark.ui.enabled" -> "false")

  /** `paths`: deployment-only settings (warehouse, metastore) on top of [[conf]]. */
  def build(cores: Int, paths: Map[String, String] = Map.empty): SparkSession =
    (conf(cores) ++ paths).foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  /** Core count of the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
