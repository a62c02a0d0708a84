package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the named queries to
  * `<outDir>/<key>_<suffix>.txt` — the per-round optimization evidence
  * (`plans/rNN/<key>_{before,after}.txt`). Dev tool only.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <key>[,key...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <key>[,key...]")
    val Array(sfDir, outDir, suffix, keyCsv) = args
    val keys = keyCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.LocalSession(4)
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
          println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
        case None => println(s"[plandump] UNKNOWN key $name — skipped")
      }
    }
    spark.stop()
  }
}
