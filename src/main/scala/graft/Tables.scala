package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * One parquet file per table under `dir` (= an sf directory such as
  * `/root/testdata/sf0.01`). All reads go through `spark.read.parquet`
  * so Catalyst's vectorized reader, column pruning, predicate pushdown
  * and partition-size splitting (`spark.sql.files.maxPartitionBytes`)
  * apply unchanged at any scale — at 100 TB these become multi-file
  * directory scans with the identical plan shape.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.schemaOf(spark, path)).parquet(path)
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** `events.ts` normalized to a session-zone µs TimestampType no
    * matter which physical type the generator wrote:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 refuses to read it as a
    *    timestamp ([PARQUET_TYPE_ILLEGAL]); the legacy conf reads it
    *    as a raw int64 and we truncate ns→µs with integer division
    *    (double division would lose precision above 2^53).
    *  - parquet TIMESTAMP(MICROS) without UTC adjustment: arrives as
    *    TIMESTAMP_NTZ; cast to the session-zone type (sessions here
    *    run UTC, so wall-clock values are unchanged).
    *
    * [[LocalSession]], which builds every session in this repo, sets
    * the nanosAsLong conf; the runtime set below is the fallback for
    * sessions built elsewhere (a caller's own harness), and is
    * call-order-sensitive — any scan of a NANOS `events` planned before
    * the first `Tables.events` call in such a session would still
    * fail. */
  def events: DataFrame = {
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(t("events"))
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** The schema parquet infers for the file at a path, once per
    * (session, path): a read given its schema runs no inference job,
    * so each table pays one per session instead of one per accessor
    * call. Inferred under the session's conf at the first read, so
    * `events` must have `nanosAsLong` set before it (see
    * [[Tables.events]]). */
  private[graft] val schemaOf = SessionMemo { (spark, path) =>
    spark.read.parquet(path).schema
  }

  /** Normalize an `events` frame's `ts` to session-zone TimestampType
    * regardless of the physical parquet type it was read as — see the
    * [[Tables.events]] Scaladoc for the per-type rationale. Shared by
    * the batch loader and the streaming file source (which must read
    * with whatever type the footer declares, then converge here). */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the plain cast preserves wall-clock ONLY under a UTC session
        // zone; LocalSession sets it, but a session built elsewhere
        // would silently shift every event — force it here, at the
        // cast, like the nanosAsLong fallback in Tables.events
        if (raw.sparkSession.conf.get("spark.sql.session.timeZone") != "UTC")
          raw.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
}
