package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder: Bench, Verify, the dev tools and the
  * test suites all start Spark here.
  *
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - the UI off;
  *  - session zone UTC, so TIMESTAMP_NTZ casts in [[Tables.normalizeTs]]
  *    keep wall-clock values;
  *  - `nanosAsLong`, so the generator's TIMESTAMP(NANOS) `events.ts`
  *    reads as int64 instead of failing ([[Tables.events]]);
  *  - log level WARN. */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
