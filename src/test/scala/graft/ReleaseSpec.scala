package graft

import graft.ops.{GraphXAlgos, TextOps, TimeSeries, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Operators outside GraphOps that checkpoint intermediate frames
  * release them once their output is materialized. */
class ReleaseSpec extends SparkSpec {

  /** The cached RDDs a frame's plan reads: its own checkpoint, or the
    * memoized frames it is a view over. */
  private def readRdds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
      .toSet

  test("checkpointing loops and single sites release every frame they " +
      "cache but their output's") {
    graft.functions.VectorExpressions.register(spark)
    val e = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the session memos k-truss starts from are built first: they are
    // not the loop's to release
    GraphXAlgos.trianglesCached(spark, sfDir).count(): Unit
    GraphXAlgos.copurchasePairsCached(spark, sfDir).count(): Unit
    // memoized entry points run on a fresh key, so the build runs here
    val entries: Seq[(String, () => Seq[DataFrame])] = Seq(
      "kmeansQuantizer" -> (() => Seq(VectorOps.kmeansQuantizer(e, 8, 3))),
      "embedKmeansConvergence" -> (() =>
        Seq(VectorOps.embedKmeansConvergence(spark, sfDir))),
      "embedPcaPower" -> (() => Seq(VectorOps.embedPcaPower(spark, sfDir))),
      "embedPcaProject" -> (() =>
        Seq(VectorOps.embedPcaProject(spark, sfDir))),
      "embedMmrRerank" -> (() =>
        Seq(VectorOps.embedMmrRerank(spark, sfDir))),
      "textLangId" -> (() => Seq(TextOps.textLangId(spark, freshSfDir()))),
      "bpe training" -> (() => {
        val d = freshSfDir()
        // the merge table and the encoder's final symbolization
        Seq(TextOps.corpusBpeMerges(spark, d),
          TextOps.corpusBpeEncode(spark, d))
      }),
      "textBigramLogprob" -> (() =>
        Seq(TextOps.textBigramLogprob(spark, sfDir))),
      "eventsValueConcentration" -> (() =>
        Seq(TimeSeries.eventsValueConcentration(spark, sfDir))),
      "graphKtruss" -> (() => Seq(GraphXAlgos.graphKtruss(spark, sfDir))))
    val leaks = entries.flatMap { case (name, run) =>
      var kept = Set.empty[Int]
      val (_, left) = jobsAndLeaks(s"release-$name") {
        val out = run()
        kept = out.flatMap(readRdds).toSet
        out.foreach(f => assert(f.collect().nonEmpty, name))
      }
      left.filterNot(i => kept(i.id)).map(i => s"$name: RDD ${i.id}")
    }
    assert(leaks.isEmpty, s"${leaks.size} RDDs left cached: $leaks")
  }
}
