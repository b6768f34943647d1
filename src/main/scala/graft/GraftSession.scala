package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every runnable entry point starts from (Bench,
  * Verify, the CCF experiment matrix and demo, and the tools). */
object GraftSession {

  /** Worker threads, and shuffle partitions: `SPARK_GRAFT_CPUS`, else the
    * machine's CPU count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions, UI off, UTC session time
    * and WARN logging. Parquet TIMESTAMP(NANOS) columns (events.ts) read as
    * Long and are converted in [[graft.sources.Tables]]. */
  def local(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
