package graft.tools

/** Dev replica of the driver's t1 smoke: calls `SparkEntry.entry` and
  * prints the row count (driver checks rows > 0 on sf0.001). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(4)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry() rows = $n")
    spark.stop()
  }
}
