package graft.ops

import graft.Tables
import graft.functions.{VectorExpressions, VectorLsh}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** §2.10 embedding similarity search.
  *
  * All vector math runs on `array<double>` (floats cast up-front) with
  * higher-order functions — codegen'd lambdas, no UDF serialization.
  * Sums inside a single array are sequential left-to-right in both
  * Spark and DuckDB, so dot products are bit-identical cross-engine and
  * oracle-checkable after rounding.
  *
  * Scale path: brute-force top-k is a single scan + TakeOrderedAndProject
  * (per-partition heaps — no global sort). The IVF variant prunes the
  * scan to the buckets nearest the probe: at 100 TB with data
  * partitioned by bucket id, the non-probed partitions are never read
  * (partition pruning), which is the real ANN win on a cluster.
  */
object VectorOps {

  /** dot(a, b) over array<double> columns — the native codegen
    * [[graft.functions.DotProduct]] expression (same sequential sum
    * order as the HOF pipeline / DuckDB, so oracles are unchanged;
    * `Scalars.arrayHigherOrder` deliberately keeps the HOF variant as
    * the lambda-surface exhibit). Callers must have invoked
    * [[graft.functions.VectorExpressions.register]] on the session. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Embeddings with the vector norm precomputed ONCE per row, so a
    * pair comparison costs one dot product instead of three (measured
    * 3× on the within-label self-join). */
  private def withNorm(t: Tables): DataFrame =
    t.embeddings.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  private def probeOf(t: Tables, vecId: Int = 0): DataFrame =
    withNorm(t).filter(col("vec_id") === vecId)
      .select(col("v").as("probe_vec"), col("nrm").as("probe_nrm"))

  /** Per-label centroid vectors (decimal-exact per-position means,
    * reassembled in position order) — the shared coarse quantizer for
    * kNN and IVF. */
  private def centroidsOf(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v"))).toDF("label", "pos", "cv")
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("cv").cast(DecimalType(27, 10))).cast(DoubleType)
        / count(lit(1))).as("mean_v"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v"))))
        .as("pairs"))
      .select(col("label").as("c_label"),
        expr("transform(pairs, p -> p.mean_v)").as("centroid"))

  /** Brute-force exact cosine top-10 vs the probe vector (vec_id=0).
    * Ordered on the ROUNDED similarity (ties → id) so cross-engine
    * float drift cannot flip ranks. Memoized (r15): the registered
    * key plus every `embed_recall_*` eval re-reads this exact top-10
    * as its ground truth — one 10-row checkpoint per (session, dir)
    * instead of ~9 full corpus scans. */
  private val cosineTopkCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()
  def embedCosineTopk(spark: SparkSession, dir: String): DataFrame =
    cosineTopkCache.synchronized {
      cosineTopkCache.getOrElseUpdate((spark, dir), {
        VectorExpressions.register(spark)
        val t = Tables(spark, dir)
        withNorm(t)
          .crossJoin(broadcast(probeOf(t)))
          .select(col("vec_id"), col("label"),
            round(dot(col("v"), col("probe_vec"))
              / (col("nrm") * col("probe_nrm")), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
          .localCheckpoint(true)
      })
    }

  /** Batch k-NN: top-3 exact-cosine neighbors for EACH of 20 probe
    * vectors at once — the batch serving shape (embed a request batch,
    * look all of them up in one job) as opposed to the single-probe
    * [[embedCosineTopk]]. The probe set broadcasts; every corpus
    * vector is scanned ONCE and compared against all probes in place
    * (20·N pairs but zero shuffle of the big side), then a window
    * per probe keeps the top-3 — at 100 TB this is one pass over the
    * embedding store per request batch, with the per-probe heaps
    * bounded by k. Ranked on the rounded similarity, id tie-break. */
  def embedKnnBatch(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val e = withNorm(Tables(spark, dir))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot(col("v"), col("pv")) / (col("nrm") * col("pn")), 4)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("probe_id"), col("rn"))
  }

  /** Matryoshka two-stage retrieval: coarse-score on the first 16 of
    * 64 dimensions (prefix truncation — the matryoshka-embedding
    * serving trick), keep the top-50 candidates, exact-cosine rerank
    * to top-10. The coarse pass touches 1/4 of the vector bytes per
    * corpus row (at scale: a separate 16-dim column/file read, 4× less
    * IO + cache pressure), and both stages are TakeOrderedAndProject
    * per-partition heaps — no global sort. Both scores are ROUNDED
    * before ranking (ties → id) so cross-engine float drift cannot
    * flip either stage's cut. */
  def embedMatryoshkaTopk(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val e = withNorm(Tables(spark, dir))
      .withColumn("v16", slice(col("v"), 1, 16))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("nrm").as("pn"),
        col("v16").as("pv16"))
    val coarse = e.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("pv"), col("pn"),
        round(dot(col("v16"), col("pv16")), 4).as("coarse_score"))
      .orderBy(col("coarse_score").desc, col("vec_id"))
      .limit(50)
    coarse
      .select(col("vec_id"), col("label"), col("coarse_score"),
        round(dot(col("v"), col("pv")) / (col("nrm") * col("pn")), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** RECALL@10 of the matryoshka coarse-then-rerank pipeline vs the
    * exact full-dim top-10 — closes the eval loop on
    * [[embedMatryoshkaTopk]] the way every other index family already
    * has one ([[embedRecallInt8]], [[embedRecallPq]],
    * [[embedRecallNsw]]…): the number that says what the 16-dim
    * prefix shortlist actually costs in answer quality, measured, not
    * assumed. Same one-row census shape: exact top-10 LEFT JOIN the
    * pipeline's top-10, hits → integer permille. */
  def embedRecallMatryoshka(spark: SparkSession,
      dir: String): DataFrame = {
    val mat = embedMatryoshkaTopk(spark, dir)
      .select(col("vec_id").as("a_id"))
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    exact.join(mat, col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** All vector pairs with cosine ≥ 0.3 within the same label — the
    * label equi-key bounds the self-join (SURVEY.md §7.4: every
    * self-join carries a partition key). */
  def embedPairSimThreshold(spark: SparkSession, dir: String): DataFrame =
    pairsAboveThreshold(spark, dir).orderBy(col("a_id"), col("b_id"))

  /** The unordered within-label cosine≥0.3 pair set — ONE definition
    * shared by the registered pair-similarity surface and
    * [[graphFeaturePropagate]]'s edge set, so a threshold or rounding
    * change can never silently split the two. */
  private def pairsAboveThreshold(spark: SparkSession,
      dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val e = withNorm(Tables(spark, dir))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"),
        round(dot(col("a.v"), col("b.v"))
          / (col("a.nrm") * col("b.nrm")), 3).as("cos_sim"))
      .filter(col("cos_sim") >= 0.3)
  }

  /** One superstep of neighborhood feature aggregation — the
    * message-passing primitive GNN pipelines precompute offline: each
    * vector's new feature is the element-wise mean over its similarity
    * neighborhood (the within-label cosine≥0.3 pair graph of
    * [[embedPairSimThreshold]], made undirected, plus a GCN-style
    * self-loop so isolated vectors keep their own feature and the
    * divisor is never zero). Neighbor sums are floor(x·1e6) BIGINT
    * micro-units via the same typed Aggregator as the oracled vecsum
    * (order-independent integer adds); the mean is the remainder-
    * subtraction floor division, exact for negative components too.
    * Scale: the pair join is bounded by the label equi-key; the
    * aggregation is ONE keyed shuffle whose map-side partials are 64
    * longs per vertex — the standard aggregateMessages superstep cost,
    * with the edge list bucketable by `nb` at 100 TB. */
  def graphFeaturePropagate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = pairsAboveThreshold(spark, dir)
    val und = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .unionByName(
        pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
      .unionByName(t.embeddings.select(col("vec_id").as("id"),
        col("vec_id").as("nb")))
    val vecsum = udaf(new graft.functions.VecSumMicroAggregator(64))
    und
      .join(t.embeddings.select(col("vec_id").as("nb"), col("embedding")),
        "nb")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_neighbors"),
        vecsum(col("embedding")).as("s"))
      .select(col("id").as("vec_id"), col("n_neighbors"),
        // CSV-rendered, not ARRAY<BIGINT>: the cross-engine compare
        // sorts on every output column, so results must stay scalar.
        concat_ws(",",
          expr("""transform(s, x -> CAST((x - ((x % n_neighbors
                 + n_neighbors) % n_neighbors)) div n_neighbors
                 AS BIGINT))""").cast("array<string>")).as("prop_csv"))
      .orderBy(col("vec_id"))
  }

  /** Per-label centroid (posexplode → per-position decimal-exact mean
    * → reassembled norm). Output is the rounded centroid norm + member
    * count per label — scalars survive the cross-engine hash compare.
    * The shuffle key is (label, pos): 10×64 cells regardless of row
    * count — constant-size state at any scale. */
  def embedCentroidPerLabel(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val cells = Tables(spark, dir).embeddings
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("label", "vec_id", "pos", "v")
    val means = cells.groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(27, 10))).cast(DoubleType)
        / count(lit(1))).as("mean_v"))
    means
      .select(col("label"),
        (col("mean_v") * col("mean_v")).cast(DecimalType(38, 18)).as("m2"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum(col("m2")).cast(DoubleType)), 4).as("centroid_norm"))
      .join(Tables(spark, dir).embeddings.groupBy(col("label"))
        .agg(count(lit(1)).as("n_members")), "label")
      .select(col("label"), col("centroid_norm"), col("n_members"))
      .orderBy(col("label"))
  }

  /** Embedding DRIFT monitor: per-label centroid shift between two
    * corpus snapshots — the "did the embedding distribution move"
    * check a serving team runs before trusting yesterday's ANN index
    * against today's vectors (re-cluster / re-train PQ when it
    * drifts). Snapshots are the deterministic vec_id parity halves
    * (stand-ins for the t−1 / t ingest batches); shift = L2 distance
    * between the halves' per-position decimal-exact centroids, the
    * same arithmetic discipline as [[embedCentroidPerLabel]] so the
    * result cross-engine hashes. Shuffle state is (label, half, pos)
    * cells — 10×2×64 regardless of corpus size. */
  def embedCentroidShift(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).embeddings
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("label", "half", "pos", "v")
    val means = cells.groupBy(col("label"), col("half"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(27, 10))).cast(DoubleType)
        / count(lit(1))).as("mean_v"),
        count(lit(1)).as("n"))
    val a = means.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("mean_v").as("ma"))
    val b = means.filter(col("half") === 1)
      .select(col("label"), col("pos"), col("mean_v").as("mb"))
    a.join(b, Seq("label", "pos"))
      .select(col("label"),
        ((col("ma") - col("mb")) * (col("ma") - col("mb")))
          .cast(DecimalType(38, 18)).as("d2"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum(col("d2")).cast(DoubleType)), 4)
        .as("centroid_shift"))
      .join(Tables(spark, dir).embeddings.groupBy(col("label"))
        .agg(count_if(col("vec_id") % 2 === 0).as("n_old"),
          count_if(col("vec_id") % 2 === 1).as("n_new")), "label")
      .select(col("label"), col("centroid_shift"), col("n_old"),
        col("n_new"))
      .orderBy(col("label"))
  }

  /** k nearest members to each label centroid (composition of centroid
    * + cosine + window top-k). Deterministic — rounded cosine with
    * vec_id tie-break — and DuckDB-oracled since round 2; rounding or
    * tie-break changes here must be mirrored in Oracle.scala. */
  def embedKnnPerLabel(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val centroids = centroidsOf(e)
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(broadcast(centroids), col("label") === col("c_label"))
      .select(col("label"), col("vec_id"),
        round(cosine(col("v"), col("centroid")), 4).as("cos_sim"))
      .select(col("label"), col("vec_id"), col("cos_sim"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 5)
      .orderBy(col("label"), col("rk"))
  }

  /** IVF-style approximate nearest neighbors: coarse quantizer = label
    * centroids; the probe searches only the 3 nearest buckets
    * (nprobe=3 of 10), then brute-forces within them. At scale, data
    * partitioned by bucket id turns the pruned buckets into unread
    * partitions. DuckDB-oracled since round 4 (Oracle.scala replays the
    * centroid build, nprobe choice and both cosine float shapes
    * exactly — changes here must be mirrored there); tests additionally
    * measure recall vs the exact top-k. */
  def embedAnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, dir, 3)

  /** The IVF probe with a caller-chosen `nprobe` — shared by the
    * registered nprobe=3 key and the [[embedAnnTuning]] sweep. */
  private def annIvf(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    VectorExpressions.register(spark)
    val t = Tables(spark, dir)
    val e = t.embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val centroids = centroidsOf(e)
    val probe = broadcast(probeOf(t))
    val nearestBuckets = centroids.crossJoin(probe)
      .select(col("c_label"),
        round(cosine(col("centroid"), col("probe_vec")), 6).as("c_sim"))
      .orderBy(col("c_sim").desc, col("c_label"))
      .limit(nprobe)
      .select(col("c_label").as("bucket"))
    withNorm(t).join(broadcast(nearestBuckets), col("label") === col("bucket"))
      .crossJoin(probe)
      .select(col("vec_id"), col("label"),
        round(dot(col("v"), col("probe_vec"))
          / (col("nrm") * col("probe_nrm")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** The nprobe TUNING CURVE — recall@10 vs probes for the IVF index,
    * the table an engineer reads before pinning the latency/recall
    * trade-off (each extra probe scans one more bucket; recall is
    * monotone non-decreasing in nprobe). Three replays of the shared
    * probe path scored against the exact top-10; all-integer permille,
    * every row oracled. */
  def embedAnnTuning(spark: SparkSession, dir: String): DataFrame = {
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    (1 to 3).map { np =>
      val ann = annIvf(spark, dir, np).select(col("vec_id").as("av"))
      exact.join(ann, col("vec_id") === col("av"), "left")
        .agg(count(lit(1)).as("k"), count(col("av")).as("hits"))
        .select(lit(np).as("nprobe"), col("k"), col("hits"),
          expr("(hits * 1000) div k").as("recall_permille"))
    }.reduce(_ unionByName _).orderBy(col("nprobe"))
  }

  /** Deterministic argmax-cosine assignment of each vector to its
    * nearest centroid (rounded sim, smallest-cid tie-break via the
    * lexicographic max over (sim, -cid)). Centroids are broadcast; the
    * group-by is a map-side-combinable agg keyed on the vector row. */
  private def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"),
        round(cosine(col("v"), col("centroid")), 6).as("sim"), col("cid"))
      .groupBy(col("vec_id"), col("v"))
      .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("m"))
      .select(col("vec_id"), col("v"), (-col("m.ncid")).as("cid"))

  /** Lloyd k-means coarse quantizer, the learned upgrade of the
    * label-as-bucket quantizer in [[embedAnnIvf]]: k centroids seeded
    * from the k smallest vec_ids (deterministic init — no RNG), a
    * fixed number of synchronous Lloyd iterations (assignment = argmax
    * rounded cosine with cid tie-break; update = decimal-exact
    * per-position means), so the final codebook is reproducible
    * run-to-run. Each iteration is one broadcast-assign + one
    * (cid, pos)-keyed agg whose state is k×dim cells regardless of
    * input size — the same constant-state shape as
    * [[embedCentroidPerLabel]], which is what makes the training step
    * viable at 100 TB (the codebook never grows with the data; in
    * production you train on a sample, which this corpus effectively
    * is). */
  def kmeansQuantizer(e: DataFrame, k: Int, iters: Int): DataFrame = {
    // r15: eager-checkpoint the k-row centroid state per iteration,
    // exactly like embedKmeansConvergence — without it iteration i's
    // plan references cents twice (broadcast-assign build + the
    // carry-forward join), so the assignment chain re-executed
    // 2^iters-fold and embed_ann_kmeans ran 13 s at 1.3 effective
    // cores on a 2,000-row table (guide §5: localCheckpoint to cut
    // lineage; the state is 8 rows at ANY corpus size)
    val retired = scala.collection.mutable.Buffer.empty[DataFrame]
    var cents = e.orderBy(col("vec_id")).limit(k)
      .select(row_number().over(Window.orderBy(col("vec_id"))).as("cid"),
        col("v").as("centroid"))
      .coalesce(1).localCheckpoint(true)
    retired += cents
    for (_ <- 1 to iters) {
      val updated = assignToCentroids(e, cents)
        .select(col("cid"), posexplode(col("v"))).toDF("cid", "pos", "x")
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(27, 10))).cast(DoubleType)
          / count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("ps"))
        .select(col("cid"), expr("transform(ps, p -> p.m)").as("new_centroid"))
      // standard empty-cluster handling: a cid that received no vectors
      // this iteration emits no mean rows — carry its previous centroid
      // forward so the codebook never silently shrinks below k (the
      // nprobe-of-k probing contract assumes all k exist)
      cents = cents.join(updated, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid"))
        .coalesce(1).localCheckpoint(true)
      retired += cents
    }
    // the final state stays checkpointed for the caller (most memoize
    // or persist it); only the intermediate rounds' block sets are
    // released
    retired.dropRight(1).foreach(_.unpersist(false))
    cents
  }

  /** ANN with a LEARNED coarse quantizer: k-means codebook (k=8, 3
    * Lloyd iterations) instead of [[embedAnnIvf]]'s label buckets —
    * the structure labels gave for free is now discovered from the
    * vectors themselves, which is the variant that survives corpora
    * without labels. Probe: nprobe=2 nearest centroids, brute-force
    * within their members only. At scale, data written partitioned by
    * cid makes the unprobed buckets unread partitions. DuckDB-oracled
    * since round 4 via `Oracle.annKmeansSql` — a full unrolled
    * 3-iteration Lloyd CTE chain; k/iters/tie-breaks changed here must
    * be mirrored there. Recall vs exact top-k and run-to-run
    * determinism are additionally property-tested. */
  def embedAnnKmeans(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val t = Tables(spark, dir)
    val e = t.embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cents = kmeansCodebookCached(spark, dir)
    val probe = broadcast(probeOf(t))
    val buckets = cents.crossJoin(probe)
      .select(col("cid"),
        round(cosine(col("centroid"), col("probe_vec")), 6).as("csim"))
      .orderBy(col("csim").desc, col("cid"))
      .limit(2)
      .select(col("cid").as("bucket"))
    val result = assignToCentroids(e, cents)
      .join(broadcast(buckets), col("cid") === col("bucket"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .crossJoin(probe)
      .select(col("vec_id"), col("cid"),
        round(dot(col("v"), col("probe_vec"))
          / (col("nrm") * col("probe_nrm")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
    result
  }

  /** Memoized trained codebook (k=8, 3 Lloyd iterations over the
    * standard embedding frame), persisted for the process lifetime —
    * the SAME TrieMap discipline as [[pqCache]]/GraphModel's builders.
    * Four keys consume this exact training run (ann-kmeans, the
    * persisted-index writer, delta-assign's base, silhouette); one
    * Lloyd chain per (session, dir) instead of one per key. */
  private val kmCodebookCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()
  def kmeansCodebookCached(spark: SparkSession, dir: String): DataFrame =
    kmCodebookCache.synchronized {
      kmCodebookCache.getOrElseUpdate((spark, dir), {
        VectorExpressions.register(spark)
        val e = Tables(spark, dir).embeddings.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        kmeansQuantizer(e, 8, 3).persist()
      })
    }

  /** PERSISTED IVF index: the trained k-means codebook and the
    * per-vector bucket assignments written ONCE as parquet tables —
    * codebook (cid, centroid; k rows) and assignments (vec_id, v, nrm)
    * PARTITIONED BY cid, i.e. the vectors physically clustered by
    * inverted list, which is how a production IVF index is laid out:
    * at 100 TB the unprobed buckets are directories the probed query
    * never reads. Train-once semantics per (session, dir) — the
    * registered query key below serves from these files with NO Lloyd
    * iteration in its plan (PlanSpec-asserted). Dirs are registered
    * with [[graft.TempDirs]] for JVM-exit removal. */
  private val ivfIndexCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), String]()
  def ivfIndexDir(spark: SparkSession, dir: String): String =
    ivfIndexCache.synchronized {
      ivfIndexCache.getOrElseUpdate((spark, dir), {
        VectorExpressions.register(spark)
        val t = Tables(spark, dir)
        val e = t.embeddings.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        val cents = kmeansCodebookCached(spark, dir)
        val base = graft.TempDirs.create("graft-ivf-index")
        cents.coalesce(1).write.parquet(s"$base/codebook")
        assignToCentroids(e, cents)
          .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
          .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
          // one shuffle to co-locate each inverted list in one file
          .repartition(col("cid"))
          .write.partitionBy("cid").parquet(s"$base/assignments")
        base
      })
    }

  /** ANN served from the PERSISTED index — the query path of
    * [[embedAnnKmeans]] with training replaced by two parquet reads:
    * the k-row codebook picks nprobe=2 buckets, and the bucket ids
    * reach the partitioned assignments scan as a runtime partition
    * filter (broadcast join on the partition column ⇒ dynamic
    * partition pruning — the unprobed inverted lists are never read,
    * same mechanism as `join_dpp_pruned`). Results are identical to
    * the in-session path, so the same DuckDB oracle checks both. */
  def embedAnnPersisted(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val base = ivfIndexDir(spark, dir)
    val probe = broadcast(probeOf(Tables(spark, dir)))
    val buckets = spark.read.parquet(s"$base/codebook")
      .crossJoin(probe)
      .select(col("cid"),
        round(cosine(col("centroid"), col("probe_vec")), 6).as("csim"))
      .orderBy(col("csim").desc, col("cid"))
      .limit(2)
      .select(col("cid").as("bucket"))
    spark.read.parquet(s"$base/assignments")
      .join(broadcast(buckets), col("cid") === col("bucket"))
      .crossJoin(probe)
      .select(col("vec_id"), col("cid"),
        round(dot(col("v"), col("probe_vec"))
          / (col("nrm") * col("probe_nrm")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** INCREMENTAL index maintenance: assign a NEW batch of vectors
    * (here: every vec_id ≡ 2 mod 5, standing in for the day's
    * arrivals) against the PERSISTED codebook — no Lloyd iteration
    * anywhere in the plan, which is the entire point: the index is
    * trained once ([[ivfIndexDir]]) and the daily delta is one
    * broadcast-assign + one keyed count, the O(batch) append path an
    * ANN service runs between retrains ([[embedCentroidShift]] is the
    * monitor that decides WHEN to retrain). Output: per-cell arrival
    * census (count + id range) — the inverted-list growth report.
    * DuckDB-oracled by replaying the training chain + the assignment
    * of the filtered batch. */
  def embedIndexDeltaAssign(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val base = ivfIndexDir(spark, dir)
    val cents = spark.read.parquet(s"$base/codebook")
    val batch = Tables(spark, dir).embeddings
      .filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    assignToCentroids(batch, cents)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_new"), min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"))
      .orderBy(col("cid"))
  }

  /** Number of PQ subspaces / centroids per subspace — mirrored by
    * `Oracle.quantizePqSql`; change both together. */
  val PqM = 8
  val PqK = 4

  /** Product quantization: compress each 64-dim vector into [[PqM]]
    * codebook ids (one per 8-dim subspace, [[PqK]] centroids each,
    * learned by one synchronous Lloyd round from a deterministic seed).
    * THE memory lever for ANN at 100 TB: 8 one-byte codes replace 512
    * bytes of floats (64×), distances against a probe become M table
    * lookups (ADC), and the codebook stays M×K×8 doubles — constant in
    * the corpus size, trained once (on a sample, in production) and
    * broadcast. Output per vector: the code word plus the rounded
    * squared reconstruction error, summed decimal-exactly across
    * subspaces.
    *
    * Everything is deterministic and DuckDB-replayable: subvector
    * slicing, rounded sequential-sum L2², argmin with smallest-cid
    * tie-break, decimal-exact mean update with empty-cluster
    * carry-forward — the [[kmeansQuantizer]] discipline applied per
    * subspace (the subspace id just joins the grouping keys, so the
    * whole training step is still two keyed aggregations). */
  /** Rounded sequential-sum squared L2 — same element order as the
    * oracle's list_sum(list_transform(...)), so bit-identical. */
  private def pqD2(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), 6)

  /** Nearest-codebook-entry assignment per (vector, subspace): argmin
    * rounded L2² with smallest-cid tie-break. */
  private def pqAssign(subs: DataFrame, cs: DataFrame): DataFrame =
    subs.join(broadcast(cs), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("subv"),
        pqD2(col("subv"), col("centroid")).as("dist"), col("cid"))
      .groupBy(col("vec_id"), col("sub"), col("subv"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("subv"),
        col("m.dist").as("dist"), col("m.cid").as("cid"))

  /** Memoized [[pqTrain]] outputs per (session, dir): the quantize and
    * ADC-search keys consume the identical codebook, so training runs
    * once per JVM — the frames stay persisted for the session lifetime
    * like the edge/shingle caches (subspace rows are M per vector,
    * codebook M×K rows; both tiny). */
  private val pqCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  /** Shared PQ training: slice every vector into [[PqM]] subspaces and
    * learn the per-subspace [[PqK]]-entry codebook (deterministic seed
    * = the K smallest vec_ids, one synchronous Lloyd round,
    * decimal-exact means, empty-cluster carry-forward). Returns
    * (subspace rows, codebook), both persisted for the session (see
    * [[pqCache]]). */
  private def pqTrain(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = pqCache.getOrElseUpdate((spark, dir),
    pqTrainOn(Tables(spark, dir).embeddings
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))))

  /** The PQ training core on an arbitrary (vec_id, v) frame — shared
    * by the raw-vector path above and the IVF-residual path
    * ([[embedIvfPqSearch]]), which quantizes `v − coarse_centroid`. */
  private def pqTrainOn(e: DataFrame): (DataFrame, DataFrame) = {
    val subDim = 64 / PqM
    val subs = e
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("v"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(v, sub * $subDim + 1, $subDim)").as("subv"))
      .persist()
    val seeds = e.orderBy(col("vec_id")).limit(PqK)
      .select(col("vec_id").as("sid"),
        row_number().over(Window.orderBy(col("vec_id"))).as("cid"))
    val c0 = subs.join(broadcast(seeds), col("vec_id") === col("sid"))
      .select(col("sub"), col("cid"), col("subv").as("centroid"))
    val upd = pqAssign(subs, c0)
      .select(col("sub"), col("cid"), posexplode(col("subv")))
      .toDF("sub", "cid", "pos", "x")
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg((sum(col("x").cast(DecimalType(27, 10))).cast(DoubleType)
        / count(lit(1))).as("m"))
      .groupBy(col("sub"), col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("ps"))
      .select(col("sub"), col("cid"),
        expr("transform(ps, p -> p.m)").as("new_centroid"))
    val c1 = c0.join(upd, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"),
        coalesce(col("new_centroid"), col("centroid")).as("centroid"))
      .persist()
    (subs, c1)
  }

  def embedQuantizePq(spark: SparkSession, dir: String): DataFrame = {
    val (subs, codebook) = pqTrain(spark, dir)
    val result = pqAssign(subs, codebook)
      .groupBy(col("vec_id"))
      .agg(
        array_sort(collect_list(struct(col("sub"), col("cid"))))
          .as("ps"),
        // per-subspace dists are already rounded; the decimal sum makes
        // the cross-subspace addition order irrelevant
        sum(col("dist").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("recon_err"))
      .select(col("vec_id"),
        expr("array_join(transform(ps, p -> cast(p.cid as string)), '')")
          .as("code"),
        col("recon_err"))
      .orderBy(col("vec_id"))
    // the cached training frames stay persisted (pqCache) — only the
    // small result is materialized out
    result.localCheckpoint(true)
  }

  /** ADC search over the PQ codes — the query half of product
    * quantization: the probe precomputes ONE M×K distance table
    * (probe-subvector vs every codebook centroid, M·K = 32 doubles),
    * and each database vector's approximate distance is just the sum
    * of M table lookups through its code — no float math against the
    * raw vectors at query time. At 100 TB the scan touches only the
    * 8-byte codes (the 64×-compressed column) plus a broadcast 32-row
    * table; this is how billion-scale ANN serves queries from RAM.
    * Here the lookup is an equi-join on (sub, cid) + a decimal sum —
    * map-side combinable, one shuffle on vec_id. Top-10 by rounded
    * ADC distance (vec_id tie-break), exact and DuckDB-replayed. */
  def embedSearchPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val (subs, codebook) = pqTrain(spark, dir)
    // probe = vec_id 0, sliced into subvectors; distance table =
    // probe-subvector vs every (sub, cid) centroid
    val probeSubs = subs.filter(col("vec_id") === 0)
      .select(col("sub"), col("subv").as("psubv"))
    val dtable = codebook.join(broadcast(probeSubs), Seq("sub"))
      .select(col("sub"), col("cid"),
        pqD2(col("psubv"), col("centroid")).as("d"))
    val result = pqAssign(subs, codebook)
      .join(broadcast(dtable), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("d").cast(DecimalType(18, 6))).cast(DoubleType)
        .as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(10)
    result.localCheckpoint(true)
  }

  /** Memoized residual-PQ training per (session, dir): the residual
    * subspace rows + codebook stay persisted like [[pqCache]]. */
  private val ivfPqCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  /** IVF-PQ — the full FAISS-style index: coarse quantizer (the
    * PERSISTED k-means codebook of [[ivfIndexDir]]) routes each vector
    * to a cell, and product quantization compresses the RESIDUAL
    * `v − cell_centroid` (residuals cluster around 0 across cells, so
    * one shared 8×4 codebook spends its precision on the fine
    * structure the coarse step left — the reason FAISS quantizes
    * residuals, not raw vectors). Query: nprobe=2 cells by rounded
    * cosine; per probed cell ONE M×K ADC table against the
    * QUERY residual `q − cell_centroid`; each member's approximate L2²
    * is M table lookups through its code. At 100 TB: codes are 8 bytes
    * per vector partitioned by cell (unprobed cells unread), both
    * codebooks constant-size broadcasts, the ADC join is
    * broadcast-only. Deterministic end to end (rounded L2², min-cid
    * tie-breaks, decimal sums) → DuckDB-oracled via the shared kmeans
    * chain + a residual-prefixed PQ chain. */
  def embedIvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val base = ivfIndexDir(spark, dir)
    val cents = spark.read.parquet(s"$base/codebook")
    val asg = spark.read.parquet(s"$base/assignments")
      .select(col("vec_id"), col("v"), col("cid"))
    val probe = broadcast(probeOf(Tables(spark, dir)))
    val buckets = cents.crossJoin(probe)
      .select(col("cid"),
        round(cosine(col("centroid"), col("probe_vec")), 6).as("csim"))
      .orderBy(col("csim").desc, col("cid"))
      .limit(2)
      .select(col("cid").as("cell"))
    val (rsubs, rcode) = ivfPqCache.getOrElseUpdate((spark, dir),
      pqTrainOn(asg.join(cents, Seq("cid"))
        .select(col("vec_id"),
          expr("zip_with(v, centroid, (x, c) -> x - c)").as("v"))))
    // per probed cell: the query residual's M×K ADC table (2×8×4 rows)
    val subDim = 64 / PqM
    val qres = cents.join(broadcast(buckets), col("cid") === col("cell"))
      .crossJoin(probe)
      .select(col("cell"),
        expr("zip_with(probe_vec, centroid, (x, c) -> x - c)").as("qr"))
      .select(col("cell"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("qr"))
      .select(col("cell"), col("sub"),
        expr(s"slice(qr, sub * $subDim + 1, $subDim)").as("qsubv"))
    val lut = qres.join(rcode, Seq("sub"))
      .select(col("cell"), col("sub"), col("cid").as("code"),
        pqD2(col("qsubv"), col("centroid")).as("d"))
    val members = asg.select(col("vec_id"), col("cid").as("cell"))
      .join(broadcast(buckets), Seq("cell"))
    val codes = pqAssign(rsubs, rcode)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
      .join(members, Seq("vec_id"))
    val result = codes
      .join(broadcast(lut), Seq("cell", "sub", "code"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(col("d").cast(DecimalType(18, 6))).cast(DoubleType)
        .as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(10)
    result.localCheckpoint(true)
  }

  /** LSH-prefiltered pair similarity — the 100 TB path for
    * [[embedPairSimThreshold]], which is exact but all-pairs within its
    * label key. Random-hyperplane signatures ([[VectorLsh]], fixed
    * seed) are banded; only pairs sharing a band are candidates, then
    * exact cosine verifies ≥ 0.3. Output = the threshold pairs the LSH
    * finds: approximate by design (banding trades recall at low
    * similarity for pruning), deterministic, and oracle-checked — the
    * same sign matrix is embedded in the generated DuckDB SQL. Recall
    * on true near-dups (cos≈1) is property-tested on planted pairs. */
  def pairSimLshOn(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    // hyperplane projections via the native codegen graft_dot (HOF
    // zip_with/aggregate is CodegenFallback — same sequential sum, so
    // the generated oracle SQL is unaffected)
    val bitCols = VectorLsh.signs.indices.map { b =>
      val hyper = array(VectorLsh.signs(b).map(lit).toIndexedSeq: _*)
      when(dot(col("v"), hyper) > 0, 1).otherwise(0)
    }
    val bandCols = (0 until VectorLsh.Bands).map { k =>
      (0 until VectorLsh.RowsPerBand)
        .map(r => bitCols(k * VectorLsh.RowsPerBand + r) * (1 << r))
        .reduce(_ + _)
    }
    val bands = e
      .select(col("vec_id") +: col("v") +: col("nrm") +:
        bandCols.zipWithIndex.map { case (c, k) => c.as(s"band_$k") }: _*)
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(array((0 until VectorLsh.Bands)
          .map(k => col(s"band_$k")): _*)))
      .toDF("vec_id", "v", "nrm", "band_id", "band_val")
    bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        round(dot(col("x.v"), col("y.v"))
          / (col("x.nrm") * col("y.nrm")), 3).as("cos_sim"))
      .distinct()
      .filter(col("cos_sim") >= 0.3)
      .orderBy(col("a_id"), col("b_id"))
  }

  def embedPairSimLsh(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    pairSimLshOn(Tables(spark, dir).embeddings)
  }

  /** Similarity threshold for [[dedupEmbedCosine]]. This synthetic
    * corpus plants no true embedding duplicates (max pairwise cosine ≈
    * 0.51), so the threshold sits where the corpus has real cluster
    * structure to exercise component formation; a production near-dup
    * pass runs the identical plan at ~0.95+. */
  val EmbedDedupThreshold = 0.4

  /** Embedding-cosine near-dup dedup — the vector-space member of the
    * dedup family (exact / minhash / simhash / ngram live in TextOps):
    * LSH-prefiltered candidate pairs with verified cosine ≥
    * [[EmbedDedupThreshold]] are clustered by
    * [[GraphOps.minLabelComponents]] and each cluster elects min vec_id
    * as the canonical representative to KEEP. Fully deterministic (the
    * fixed LSH sign matrix is shared with the generated oracle SQL,
    * rounded cosine, min election), so the whole approximate pipeline
    * is DuckDB-oracled end to end. Scale: candidate generation is the
    * banded LSH join (never all-pairs); clustering state is one label
    * per vector. */
  def dedupEmbedCosine(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val emb = Tables(spark, dir).embeddings
    val pairs = pairSimLshOn(emb)
      .filter(col("cos_sim") >= EmbedDedupThreshold)
      .select(col("a_id"), col("b_id"))
    GraphOps.minLabelComponents(emb.select(col("vec_id").as("id")), pairs)
      .select(col("id").as("vec_id"), col("cluster"),
        (col("id") === col("cluster")).as("is_canonical"))
      .orderBy(col("vec_id"))
  }

  /** THRESHOLD SWEEP for the embedding near-dup detector — the
    * [[graft.ops.TextOps.dedupMinhashSweep]] counterpart on the
    * cosine side: pair and member counts at four cuts over the SAME
    * bounded LSH candidate slice [[dedupEmbedCosine]] clusters from.
    * Thresholds compare the 3dp-rounded cosine against exact double
    * literals (both engines parse the same IEEE value), so every cut
    * is engine-identical. The pair frame computes once (checkpointed);
    * each cut is a tiny agg. */
  def embedCosineSweep(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val pairs = pairSimLshOn(Tables(spark, dir).embeddings)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
      .localCheckpoint(true)
    Seq(300L, 400L, 500L, 600L).map { t =>
      val p = pairs.filter(col("cos_sim") >= lit(t.toDouble / 1000.0))
      val vecs = p.select(col("a_id").as("d"))
        .unionByName(p.select(col("b_id").as("d"))).distinct()
      p.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(vecs.agg(count(lit(1)).as("n_vecs")))
        .select(lit(t).as("threshold_milli"), col("n_pairs"),
          col("n_vecs"))
    }.reduce(_ unionByName _).orderBy(col("threshold_milli"))
  }

  /** Multimodal join: documents ⋈ embeddings on doc_id=vec_id, English
    * docs only, similarity vs the probe. */
  def multimodalJoin(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val t = Tables(spark, dir)
    t.documents.filter(col("lang") === "en")
      .join(withNorm(t), col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(probeOf(t)))
      .select(col("doc_id"), col("source"), col("n_chars"), col("label"),
        round(dot(col("v"), col("probe_vec"))
          / (col("nrm") * col("probe_nrm")), 4).as("cos_sim"))
      .orderBy(col("doc_id"))
  }

  /** Recall@10 of the IVF ANN path against the exact brute-force
    * top-10 — the eval loop every approximate index needs before it
    * is trusted in production: re-runs BOTH retrieval plans and scores
    * the overlap as a one-row (k, hits, recall_permille) metric. The
    * expensive parts are the two retrieval sub-plans themselves (each
    * already scale-shaped: one corpus pass for exact, pruned buckets
    * for IVF); the comparison is a left join of two k-row frames —
    * constant work. At 100 TB you run this over a probe SAMPLE and
    * aggregate the per-probe recalls; the per-probe plan is exactly
    * this one. Integer permille keeps the metric engine-exact. */
  def embedRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    val ann = embedAnnIvf(spark, dir).select(col("vec_id").as("a_id"))
    exact.join(ann, col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** Recall@10 of the PQ-ADC compressed path vs the exact cosine
    * top-10 — the same one-row eval discipline as [[embedRecallEval]]
    * applied to the 64× compression lever: ADC ranks by approximate
    * L2² through 8 one-byte codes, and this key measures exactly what
    * that compression costs in retrieval quality (the accept/reject
    * number a serving team pins before rolling PQ out). Integer
    * permille, both retrieval plans replayed verbatim by the oracle. */
  def embedRecallPq(spark: SparkSession, dir: String): DataFrame = {
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    val ann = embedSearchPqAdc(spark, dir).select(col("vec_id").as("a_id"))
    exact.join(ann, col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** Memoized INT8 scalar quantization per (session, dir): the
    * per-dimension absmax array (one 64-double row) and the per-vector
    * code arrays, shared by the quantize census and the int8 retrieval
    * eval. Persisted like [[pqCache]]; synchronized: the
    * Sources.materialize rule. */
  private val int8Cache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private def int8Codes(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = int8Cache.synchronized {
    int8Cache.getOrElseUpdate((spark, dir), {
      val e = Tables(spark, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
      val ex = e.select(col("vec_id"), posexplode(col("v")))
        .toDF("vec_id", "pos", "x")
      // per-dimension absmax — a D-row agg (constant size), then ONE
      // broadcast row holding the scale array in position order
      val amax = ex.groupBy(col("pos")).agg(max(abs(col("x"))).as("am"))
        .agg(array_sort(collect_list(struct(col("pos"), col("am"))))
          .as("ps"))
        .select(expr("transform(ps, p -> p.am)").as("amax"))
      // q_d = round-half-up(127 · x / amax_d) via floor(y + 0.5) —
      // floor is bit-deterministic cross-engine where round() on
      // doubles is not (shortest-string vs binary rounding)
      val codes = e.crossJoin(broadcast(amax))
        .select(col("vec_id"), col("v"), col("amax"),
          expr("""zip_with(v, amax, (x, a) ->
                    CASE WHEN a = 0D THEN 0L
                         ELSE CAST(floor(127D * x / a + 0.5D) AS BIGINT)
                    END)""").as("q8"))
        .persist()
      (codes, amax.persist())
    })
  }

  /** INT8 scalar quantization of the embedding store — the simplest
    * (and most deployed) compression lever: one absmax scale per
    * dimension, codes in [−127, 127], 8× smaller than float64 with no
    * codebook to train (contrast [[embedQuantizePq]]'s 64×). Output =
    * per-vector code array + the L2 reconstruction error — the
    * quantization-loss census a serving team reads before flipping a
    * corpus to int8. Two scans (a D-row scale agg, then the per-row
    * encode against the broadcast scale array) and NO shuffle in the
    * encode — the 100 TB shape for a full-corpus re-encode. The code
    * array is RENDERED AS a comma-joined scalar string: the round-7
    * convention for array outputs (the correctness harness hashes
    * scalar cells; a raw array column crashes its pandas sort). */
  def embedQuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val (codes, _) = int8Codes(spark, dir)
    codes
      .select(col("vec_id"),
        array_join(expr("transform(q8, x -> CAST(x AS STRING))"), ",")
          .as("q8"),
        round(sqrt(expr("""aggregate(
            zip_with(v, zip_with(q8, amax, (q, a) -> q * a / 127.0D),
                     (x, d) -> (x - d) * (x - d)),
            0D, (acc, y) -> acc + y)""")), 4).as("recon_l2"))
      .orderBy(col("vec_id"))
  }

  /** Recall@10 of INT8 dot-product retrieval vs the exact cosine
    * top-10 — the eval that decides whether the 8× compression is
    * free at serving time. The int8 ranking is an ALL-INTEGER dot
    * product of code arrays (no float compare anywhere in the
    * ranking, so no rounding guard is even needed), TakeOrdered
    * per-partition heaps, then the same one-row overlap metric as
    * [[embedRecallEval]]. */
  def embedRecallInt8(spark: SparkSession, dir: String): DataFrame = {
    val (codes, _) = int8Codes(spark, dir)
    val probe = codes.filter(col("vec_id") === 0)
      .select(col("q8").as("pq8"))
    val i8 = codes.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        expr("""aggregate(zip_with(q8, pq8, (a, b) -> a * b),
                          0L, (acc, y) -> acc + y)""").as("dot_i8"))
      .orderBy(col("dot_i8").desc, col("vec_id"))
      .limit(10)
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    exact.join(i8.select(col("vec_id").as("a_id")),
        col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** CLUSTER-QUALITY EVAL: mean simplified SILHOUETTE per k-means
    * cluster — for each vector, a = cosine distance to its OWN
    * centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a)/max(a, b) ∈ [−1, 1]; well-separated clusters score
    * near 1, overlapping ones near 0. This is the standard scalable
    * silhouette: against centroids, not all pairs (the textbook
    * all-pairs version is O(N²) and dead at scale; per-vector cost
    * here is k broadcast distances — the same shape as assignment).
    * Closes the eval loop on [[kmeansQuantizer]] the way
    * [[embedRecallEval]] does on IVF: drift in the codebook shows up
    * as a silhouette drop before it shows up as recall loss.
    * Determinism: distances use the same 6dp-rounded cosine as
    * assignment, per-vector s is rounded 6dp, and the per-cluster
    * mean is a decimal-exact sum — fully DuckDB-replayable on top of
    * the unrolled Lloyd oracle chain. */
  def embedSilhouette(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val t = Tables(spark, dir)
    val e = t.embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cents = kmeansCodebookCached(spark, dir)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cid"))
    val ranked = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        round(cosine(col("v"), col("centroid")), 6).as("sim"),
        col("cid"))
      .withColumn("rn", row_number().over(w))
    val own = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"),
        (lit(1) - col("sim")).as("a"))
    val second = ranked.filter(col("rn") === 2)
      .select(col("vec_id"), (lit(1) - col("sim")).as("b"))
    // a = b = 0 (vector at rounded-cosine 1.0 to two centroids — a
    // degenerate codebook) would be 0/0: NaN here, engine-defined in
    // DuckDB. Pin s = 0 on both sides.
    val out = own.join(second, "vec_id")
      .withColumn("sil",
        when(greatest(col("a"), col("b")) === 0, lit(0.0))
          .otherwise(round((col("b") - col("a"))
            / greatest(col("a"), col("b")), 6)))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("sil").cast(DecimalType(27, 10)))
          .cast(DoubleType) / count(lit(1)) + lit(1e-9), 6)
          .as("mean_silhouette"))
      .orderBy(col("cid"))
    out
  }

  /** K-MEANS CONVERGENCE TRACE — the "did the training budget
    * converge?" read that belongs NEXT TO the k-means family
    * ([[embedAnnKmeans]]/[[embedSilhouette]] consume the k=8,
    * 3-iteration codebook; this key shows whether 3 iterations were
    * enough): per Lloyd round, the assignment COHESION (mean rounded
    * cosine of every vector to its assigned centroid — the
    * cosine-space inertia analogue, higher = tighter) and how many
    * vectors CHANGED cluster versus the previous round (the classic
    * Lloyd stopping signal; a near-zero tail says the codebook is
    * stable, a fat tail says budget more rounds). Replays
    * [[kmeansQuantizer]]'s exact step (same deterministic seed,
    * rounded-cosine argmax with cid tie-break, decimal-exact mean
    * update with empty-cluster carry-forward) with the per-round
    * assignment KEPT: each round is one broadcast-assign + one
    * k×dim-state update — constant state at any corpus size, like the
    * quantizer itself. Mean cosine uses the [[embedSilhouette]] float
    * discipline (per-vector 6dp round → DECIMAL(27,10) sum → one
    * double division, +1e-9, 6dp). */
  def embedKmeansConvergence(spark: SparkSession,
      dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val e = Tables(spark, dir).embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    var cents = e.orderBy(col("vec_id")).limit(8)
      .select(row_number().over(Window.orderBy(col("vec_id")))
        .as("cid"), col("v").as("centroid"))
    var prev: Option[DataFrame] = None
    val retired = scala.collection.mutable.Buffer.empty[DataFrame]
    val rounds = (1 to 3).map { i =>
      // NOT checkpointed (r15): every consumer — the stats row, the
      // moved-count join, the centroid update — lands in either the
      // per-round cents checkpoint job below or the single final
      // union action, where exchange reuse dedupes the shared
      // subtree; the old per-round eager checkpoint bought nothing
      // but a job, and the key's wall was pure job-train latency
      // (41 jobs, 0.7 effective cores in the r15 bench).
      val asg = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"),
          round(cosine(col("v"), col("centroid")), 6).as("sim"),
          col("cid"))
        .groupBy(col("vec_id"), col("v"))
        .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("m"))
        .select(col("vec_id"), col("v"), col("m.sim").as("sim"),
          (-col("m.ncid")).as("cid"))
      val stats = asg.agg(count(lit(1)).as("n_vectors"),
          round(sum(col("sim").cast(DecimalType(27, 10)))
            .cast(DoubleType) / count(lit(1)) + lit(1e-9), 6)
            .as("mean_cos"))
        .select(lit(i.toLong).as("round"), col("n_vectors"),
          col("mean_cos"))
      val row = prev match {
        case Some(p) => stats.crossJoin(
          asg.select(col("vec_id"), col("cid"))
            .join(p.select(col("vec_id"), col("cid").as("pc")),
              "vec_id")
            .agg(sum((col("cid") =!= col("pc")).cast("long"))
              .as("n_moved")))
        case None => stats.withColumn("n_moved",
          lit(null).cast("long"))
      }
      val updated = asg.select(col("cid"), posexplode(col("v")))
        .toDF("cid", "pos", "x")
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(27, 10)))
          .cast(DoubleType) / count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("ps"))
        .select(col("cid"),
          expr("transform(ps, p -> p.m)").as("new_centroid"))
      // r15: eager-checkpoint the k×dim centroid state per round
      // (coalesced to one partition — it is 8 rows at ANY corpus
      // size, constant state like the quantizer's codebook). Without
      // this, round i's assignment plan re-derives every earlier
      // round's centroid-update subtree (posexplode + two shuffles
      // each) inside its broadcast build, and the whole trace ran
      // near-single-core on recomputation: 21.3 s driver wall at 0.9
      // effective cores in the r15 bench.
      cents = cents.join(updated, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("new_centroid"), col("centroid"))
            .as("centroid"))
        .coalesce(1).localCheckpoint(true)
      retired += cents
      prev = Some(asg)
      row
    }
    val out = rounds.reduce(_ unionByName _).orderBy(col("round"))
      .localCheckpoint(true)
    retired.foreach(_.unpersist(false))
    out
  }

  /** Round budget for [[embedPcaPower]] — bounded so the oracle can
    * unroll the identical chain. */
  val PcaRounds = 6

  /** TOP PRINCIPAL DIRECTION of the embedding matrix by EXACT-INTEGER
    * power iteration — the one-vector PCA an embedding platform runs
    * for drift monitoring, whitening decisions and "is this corpus
    * one blob or two" reads. Iterates v ← Gv on the SECOND-MOMENT
    * Gram matrix G = EᵀE (uncentered, so G is PSD and the iteration
    * cannot sign-flip; the data mean is part of the direction, which
    * is what a drift monitor wants anyway) without ever materializing
    * G: each round is two keyed aggregations over the micro-unit
    * cells —
    *
    *   s_i = Σ_d  E[i,d] · v[d]      (row projections)
    *   u_d = Σ_i  E[i,d] · s_i       (re-projection, DECIMAL(38,0))
    *
    * then deterministic renormalization v'_d = (u_d·1e6) floorDiv
    * max|u| (the same remainder-subtraction floor division as the
    * graph family — no sqrt, no float norm, so every round is
    * bit-identical cross-engine). Cells are floor(x·1e6) BIGINT micro
    * (the [[graft.ops.Det]] / vecsum discipline). At 100 TB: v is a
    * 64-row broadcast, both aggs are map-side combinable with
    * constant-size (D or N-row) outputs, state never exceeds one
    * vector — the classic scalable one-pass-per-round PCA. Output =
    * the 64 loadings in micro-units of the max-abs-1e6 scale. */
  def embedPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val floorDiv =
      """CAST(CASE WHEN den = 0 THEN NULL
         ELSE (num - ((num % den + den) % den)) div den END AS BIGINT)"""
    val cells = Tables(spark, dir).embeddings
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "pos", "x")
      .select(col("vec_id"), col("pos"),
        floor(col("x") * lit(1000000.0)).as("em"))
      .localCheckpoint(true) // probed twice per round
    var v = spark.range(64)
      .select(col("id").cast("int").as("pos"), lit(1000000L).as("vm"))
      .localCheckpoint(true)
    var owned = v
    for (_ <- 1 to PcaRounds) {
      val s = cells.join(broadcast(v), "pos")
        .groupBy(col("vec_id"))
        .agg(sum(col("em") * col("vm")).as("s"))
      val u = cells.join(s, "vec_id")
        .groupBy(col("pos"))
        .agg(sum(col("em").cast(dec) * col("s").cast(dec)).as("u"))
      val mx = u.agg(max(abs(col("u"))).as("mx"))
      val next = u.crossJoin(mx) // 1-row frame
        .select(col("pos"),
          (col("u") * lit(1000000L).cast(dec)).as("num"),
          col("mx").as("den"))
        .select(col("pos"), expr(floorDiv).as("vm"))
        .localCheckpoint(true)
      owned.unpersist(false)
      owned = next
      v = next
    }
    val out = v.select(col("pos"), col("vm").as("loading_micro"))
      .orderBy(col("pos")).localCheckpoint(true)
    owned.unpersist(false)
    cells.unpersist(false)
    out
  }

  /** Pick budget for [[embedMmrRerank]]. λ is fixed at 7/10. */
  val MmrPicks = 5

  /** MMR RERANK — maximal marginal relevance diversification, the
    * standard RAG serving step between retrieval and the context
    * window: from the top-20 candidate pool of the probe, greedily
    * pick K results maximizing
    *
    *   score(i) = (7·sim_q(i) − 3·max_{j∈S} sim(i, j)) floorDiv 10
    *
    * (λ = 0.7 in exact micro-units; the penalty term is what stops
    * five near-duplicates of the best hit from filling the window).
    * Greedy selection is inherently sequential in K, but each round
    * is a TINY frame job — the pool is 20 rows, the selected set ≤ K,
    * every pairwise term recomputed against the broadcast selected
    * set — so the sequentiality costs K small jobs, never a shuffle
    * of the corpus; the corpus-sized work happened once in the
    * candidate retrieval. All sims are micro-rounded BEFORE the
    * arithmetic and the division floors through the remainder
    * identity (scores go negative), so every pick replays exactly in
    * DuckDB. */
  def embedMmrRerank(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val t = Tables(spark, dir)
    val e = withNorm(t)
    val pool = e.crossJoin(broadcast(probeOf(t)))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"), col("nrm"),
        round(dot(col("v"), col("probe_vec"))
          / (col("nrm") * col("probe_nrm")) * 1000000)
          .cast("long").as("sq"))
      .orderBy(col("sq").desc, col("vec_id")).limit(20)
      .localCheckpoint(true)
    var sel = pool.limit(0)
      .select(col("vec_id"), col("v"), col("nrm"), col("sq"),
        lit(0).as("rank"), lit(0L).as("score_micro"))
      .localCheckpoint(true)
    for (k <- 1 to MmrPicks) {
      val selV = sel.select(col("vec_id").as("sid"), col("v").as("sv"),
        col("nrm").as("snrm"))
      val cur = pool.join(sel.select(col("vec_id").as("sid2")),
        col("vec_id") === col("sid2"), "left_anti")
      val pen = cur.crossJoin(broadcast(selV))
        .select(col("vec_id"),
          round(dot(col("v"), col("sv"))
            / (col("nrm") * col("snrm")) * 1000000)
            .cast("long").as("ps"))
        .groupBy(col("vec_id")).agg(max(col("ps")).as("ms"))
      val pick = cur.join(pen, Seq("vec_id"), "left")
        .withColumn("raw",
          lit(7L) * col("sq") - lit(3L) * coalesce(col("ms"), lit(0L)))
        .withColumn("score_micro",
          expr("(raw - ((raw % 10 + 10) % 10)) div 10"))
        .agg(max(struct(col("score_micro"), (-col("vec_id")).as("ni"),
          col("sq"), col("v"), col("nrm"))).as("m"))
        .select((-col("m.ni")).as("vec_id"), col("m.v").as("v"),
          col("m.nrm").as("nrm"), col("m.sq").as("sq"),
          lit(k).as("rank"), col("m.score_micro").as("score_micro"))
      val next = sel.unionByName(pick).localCheckpoint(true)
      sel.unpersist(false)
      sel = next
    }
    val out = sel
      .select(col("rank"), col("vec_id"), col("sq").as("sim_q_micro"),
        col("score_micro"))
      .orderBy(col("rank")).localCheckpoint(true)
    sel.unpersist(false)
    pool.unpersist(false)
    out
  }

  /** Per-label distribution along the [[embedPcaPower]] direction —
    * the read a drift monitor actually consumes: project every vector
    * onto the trained principal direction (one broadcast join + a
    * per-vector sum, micro-units via the same floor divisions) and
    * summarize min/max/mean per label. Two labels with separated
    * projection bands = the corpus is split along its top direction;
    * a label whose band moved since the last snapshot = drift. One
    * corpus pass after the bounded training rounds. */
  def embedPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val v = embedPcaPower(spark, dir)
    val floorDiv1e6 =
      """CAST((s - ((s % 1000000 + 1000000) % 1000000))
         div 1000000 AS BIGINT)"""
    val proj = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "label", "pos", "x")
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x") * lit(1000000.0)).as("em"))
      .join(broadcast(v), "pos")
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("em") * col("loading_micro")).as("s"))
      .select(col("vec_id"), col("label"),
        expr(floorDiv1e6).as("pm"))
    val out = proj.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("pm")).as("proj_min"),
        max(col("pm")).as("proj_max"),
        expr("""CAST((sum(pm) - ((sum(pm) % count(1) + count(1))
                % count(1))) div count(1) AS BIGINT)""")
          .as("proj_mean"))
      .orderBy(col("label"))
      .localCheckpoint(true) // materialize BEFORE releasing v
    v.unpersist(false)
    out
  }

  /** EMBEDDING OUTLIER detection — the top-3 vectors FARTHEST from
    * their own label's centroid, per label: the mislabeled/noise-vector
    * read an embedding-store curation pass runs before training on the
    * labels. Distance = squared L2 to the decimal-exact per-position
    * centroid (same mean discipline as [[embedCentroidPerLabel]]);
    * per-position terms are micro-rounded BEFORE the 64-term sum so
    * the distance is an exact BIGINT and ranks cannot drift on float
    * fold order. The centroid frame is labels×dims (broadcast); the
    * corpus-side work is one posexplode + one keyed agg, and the
    * per-label top-3 is a bounded window — one pass at any scale. */
  def embedOutlierTopk(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).embeddings
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("label", "vec_id", "pos", "x")
    val means = cells.groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast(DecimalType(27, 10))).cast(DoubleType)
        / count(lit(1))).as("mean_v"))
    val d2 = cells.join(broadcast(means), Seq("label", "pos"))
      .select(col("label"), col("vec_id"),
        round((col("x") - col("mean_v")) * (col("x") - col("mean_v"))
          * lit(1000000.0)).cast("long").as("t_micro"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum(col("t_micro")).as("dist2_micro"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2_micro").desc, col("vec_id"))
    d2.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("label"), col("rk"), col("vec_id"),
        col("dist2_micro"))
      .orderBy(col("label"), col("rk"))
  }

  /** Candidate-pool size per retrieval leg for [[retrievalHybridRrf]];
    * shared with the oracle replay. */
  private[graft] val RrfPoolK = 100
  private[graft] val RrfC = 60

  /** HYBRID RETRIEVAL — reciprocal-rank fusion of a lexical BM25 leg
    * and a semantic embedding-cosine leg, the standard RAG serving
    * shape (sparse + dense union beats either alone; RRF needs only
    * ranks, no score calibration). Production form: each leg retrieves
    * its own top-[[RrfPoolK]] INDEPENDENTLY (TakeOrdered heaps — never
    * a global rank over the corpus), ranks live only inside the two
    * bounded pools, and fusion is a full-outer join of two K-row
    * frames. rrf = Σ_legs 1e6 div (c + rank) in exact integers (a doc
    * absent from a leg contributes 0 from it). Doc 0 is the query
    * document (its embedding is the dense probe) and is excluded from
    * both pools. At 100 TB only the two leg scans touch the corpus;
    * everything after is O(K). */
  def retrievalHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val t = Tables(spark, dir)
    val wLex = Window.orderBy(col("bm25_micro").desc, col("doc_id"))
    val lex = TextOps.bm25MicroOf(spark, dir)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("bm25_micro").desc, col("doc_id")).limit(RrfPoolK)
      .select(col("doc_id"),
        row_number().over(wLex).as("rank_lex"))
    val wSem = Window.orderBy(col("cos_micro").desc, col("doc_id"))
    val sem = withNorm(t).crossJoin(broadcast(probeOf(t)))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"),
        round(dot(col("v"), col("probe_vec"))
          / (col("nrm") * col("probe_nrm")) * 1000000)
          .cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("doc_id")).limit(RrfPoolK)
      .select(col("doc_id"),
        row_number().over(wSem).as("rank_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
        (coalesce(expr(s"CAST(1000000 div ($RrfC + rank_lex) AS BIGINT)"),
            lit(0L))
          + coalesce(expr(s"CAST(1000000 div ($RrfC + rank_sem) AS BIGINT)"),
            lit(0L))).as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** PER-DIMENSION moment census over the embedding matrix — which
    * coordinates carry signal and which are dead: per position the
    * exact-integer mean, population variance, and min/max of the
    * floor(x·1e6) micro cells (the same cells the PCA power iteration
    * reads — this is its cheap screening pre-read, and the variance
    * ranking is what an index builder uses to order PQ subspaces or
    * prune dimensions). Sums accumulate in DECIMAL(38,0): at 10⁹
    * vectors Σx² ≈ 10⁹·10¹² is past BIGINT; the variance is then ONE
    * integral division (n·Σx² − (Σx)²) div n² so both engines
    * truncate the same value. Shape: one posexplode + one 64-key agg — map-side
    * combinable, constant output. */
  /** Shared 1-bit codes for the binary-quantization pair: per
    * dimension the exact-integer mean of the floor(x·1e6) micro cells
    * is the threshold (mean-centering keeps each bit near balanced,
    * where raw sign would waste bits on biased dimensions), then the
    * 64 bits pack into TWO BIGINT words via shifted sums — one keyed
    * agg, map-side combinable, and the 64-dim vector compresses 32×
    * to 16 bytes. The threshold frame is 64 rows broadcast. */
  private def binaryCodes(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "label", "pos", "x")
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x") * lit(1000000.0)).as("em"))
    val mu = cells.groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("em").cast(dec)).as("s1"))
      .select(col("pos"), expr("CAST(s1 div n AS BIGINT)").as("mu"))
    cells.join(broadcast(mu), "pos")
      .select(col("vec_id"), col("label"),
        col("pos"), (col("em") > col("mu")).cast("long").as("bit"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(expr("IF(pos < 32, shiftleft(bit, pos), 0L)"))
          .as("code_lo"),
        sum(expr("IF(pos >= 32, shiftleft(bit, pos - 32), 0L)"))
          .as("code_hi"),
        sum(col("bit")).as("n_ones"))
  }

  /** BINARY (1-bit) QUANTIZATION — the most aggressive point on the
    * compression curve next to [[embedQuantizeInt8]] (8×) and the PQ
    * codes (64×): each vector becomes two BIGINT bit-words, and
    * similarity becomes XOR + popcount — a register-level distance
    * with no table lookups at all, the binary-embedding serving trick.
    * Output: the packed words + the per-vector population count
    * (whose corpus-wide near-balance is the threshold-quality read). */
  def embedQuantizeBinary(spark: SparkSession, dir: String): DataFrame =
    binaryCodes(spark, dir)
      .select(col("vec_id"), col("label"), col("code_lo"),
        col("code_hi"), col("n_ones"))
      .orderBy(col("vec_id"))

  /** Recall@10 of HAMMING-distance retrieval over the 1-bit codes vs
    * the exact cosine top-10 — what 32× compression costs at serving
    * time, closing the eval loop the way [[embedRecallInt8]] does for
    * int8. The ranking is bit_count(xor) on two words per candidate
    * (ties broken by vec_id), TakeOrdered heaps, then the same
    * one-row overlap metric. */
  def embedRecallBinary(spark: SparkSession, dir: String): DataFrame = {
    val codes = binaryCodes(spark, dir)
    val probe = codes.filter(col("vec_id") === 0)
      .select(col("code_lo").as("plo"), col("code_hi").as("phi"))
    val ham = codes.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        expr("bit_count(code_lo ^ plo) + bit_count(code_hi ^ phi)")
          .cast("long").as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(10)
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    exact.join(ham.select(col("vec_id").as("a_id")),
        col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** BINARY TWO-STAGE RETRIEVAL — the production serving shape the
    * 1-bit codes exist FOR, the [[embedMatryoshkaTopk]] sibling with
    * Hamming instead of a prefix dot: stage 1 scans ONLY the packed
    * code words (16 bytes/vector vs 512 for the float64 corpus — at
    * 100 TB the codes are a separate 32×-smaller column file, and the
    * scan is XOR + popcount per row with a size-50 TakeOrdered heap,
    * no shuffle of the corpus); stage 2 fetches the full vectors for
    * just the 50 shortlisted ids (broadcast semi-join here; a
    * point-lookup against the id-sorted store on a cluster) and
    * exact-cosine reranks to the final top-10. Both cuts rank on
    * engine-stable values (integer Hamming / rounded cosine, id
    * tie-breaks), so the two-stage result is deterministic
    * cross-engine. */
  def embedRerankBinary(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    val codes = binaryCodes(spark, dir)
    val probeC = codes.filter(col("vec_id") === 0)
      .select(col("code_lo").as("plo"), col("code_hi").as("phi"))
    val shortlist = codes.crossJoin(broadcast(probeC))
      .select(col("vec_id"),
        expr("bit_count(code_lo ^ plo) + bit_count(code_hi ^ phi)")
          .cast("long").as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(50)
    val t = Tables(spark, dir)
    withNorm(t)
      .join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(probeOf(t)))
      .select(col("vec_id"), col("label"), col("hamming"),
        round(dot(col("v"), col("probe_vec"))
          / (col("nrm") * col("probe_nrm")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  def embedDimVariance(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    Tables(spark, dir).embeddings
      .select(posexplode(col("embedding").cast("array<double>")))
      .toDF("pos", "x")
      .select(col("pos"), floor(col("x") * lit(1000000.0)).as("em"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("em").cast(dec)).as("s1"),
        sum((col("em") * col("em")).cast(dec)).as("s2"),
        min(col("em")).as("min_micro"),
        max(col("em")).as("max_micro"))
      .select(col("pos"), col("n"),
        expr("CAST(s1 div n AS BIGINT)").as("mean_micro"),
        expr("CAST((n * s2 - s1 * s1) div (n * n) AS BIGINT)")
          .as("var_micro2"),
        col("min_micro"), col("max_micro"))
      .orderBy(col("pos"))
  }

  /** NSW index/search constants — small so the oracle can unroll the
    * beam loop, engine-shared via interpolation into the SQL. */
  val NswShards = 4
  val NswDegree = 6
  val NswBeam = 8
  val NswHops = 3

  /** Memoized per-shard NSW index: (verts, edges). Verts carry the
    * md5-deterministic shard id; edges are each vector's
    * [[NswDegree]] nearest IN-SHARD neighbors by rounded cosine (the
    * layer-0 NSW graph — greedy-searchable because near neighbors
    * chain). Build = one within-shard self-join, O(N·shard_size):
    * bounded because the shard count SCALES with the corpus (each
    * shard is one index server's partition at serving time), so
    * shard_size is a constant, not N/const. Synchronized +
    * localCheckpoint: the [[int8Codes]] retention contract. */
  private val nswCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private def nswIndexCached(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = nswCache.synchronized {
    nswCache.getOrElseUpdate((spark, dir), {
      VectorExpressions.register(spark)
      val verts = withNorm(Tables(spark, dir))
        .select(col("vec_id"),
          pmod(TextOps.md5Hash60(concat_ws(":", lit("graft-nsw"),
            col("vec_id").cast("string"))), lit(NswShards)).as("shard"),
          col("v"), col("nrm"))
        .localCheckpoint(true)
      val a = verts.select(col("shard"), col("vec_id").as("src"),
        col("v").as("av"), col("nrm").as("an"))
      val b = verts.select(col("shard"), col("vec_id").as("dst"),
        col("v").as("bv"), col("nrm").as("bn"))
      val w = Window.partitionBy(col("shard"), col("src"))
        .orderBy(col("sim").desc, col("dst"))
      val edges = a.join(b, Seq("shard"))
        .filter(col("src") =!= col("dst"))
        .select(col("shard"), col("src"), col("dst"),
          round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 4)
            .as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= NswDegree)
        .select(col("shard"), col("src"), col("dst"))
        .localCheckpoint(true)
      (verts, edges)
    })
  }

  /** PARTITIONED NSW ANN — the Spark-native approximation of the
    * serving-default graph index (HNSW without the hierarchy): the
    * corpus splits into [[NswShards]] md5-deterministic shards, each
    * shard holds its own layer-0 NSW graph ([[nswIndexCached]]), and a
    * query runs the SAME search every NSW server runs — start at the
    * shard's deterministic entry point (min vec_id), then [[NswHops]]
    * rounds of expand-neighbors → score vs probe → keep the
    * [[NswBeam]] best per shard (beam search; rounded cosine with id
    * tie-breaks so the walk is engine-replayable) — and the per-shard
    * beams merge into the global top-10 (the scatter-gather every
    * sharded ANN service does). Search touches beam·degree·hops
    * vectors PER SHARD instead of the shard's full contents; at 100 TB
    * each shard is one executor-resident graph and the query cost is
    * S small keyed lookups, not a corpus scan — the recall price is
    * measured by [[embedRecallNsw]] exactly like the IVF/PQ/binary
    * paths. */
  def embedAnnNsw(spark: SparkSession, dir: String): DataFrame = {
    val (verts, edges) = nswIndexCached(spark, dir)
    nswBeamSearch(spark, dir, verts, edges)
  }

  /** The scatter-gather beam search shared by [[embedAnnNsw]] and
    * [[embedRecallNswDelta]] — per shard: deterministic entry (min
    * vec_id), [[NswHops]] rounds of expand → score → keep-[[NswBeam]],
    * then the global top-10 merge. */
  private def nswBeamSearch(spark: SparkSession, dir: String,
      verts: DataFrame, edges: DataFrame): DataFrame =
    nswBeamFrom(spark, dir, verts, edges,
      verts.groupBy(col("shard")).agg(min(col("vec_id")).as("vec_id")),
      NswBeam)
      .select(col("vec_id"), col("shard"), col("sim").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)

  /** One layer's beam run: seed (shard, vec_id) rows → [[NswHops]]
    * rounds of expand-over-`edges` → score vs probe → keep-`beam`
    * per shard. Returns the final beam (shard, vec_id, sim) — callers
    * cut the global top-k or feed it as the next layer's seed (the
    * HNSW descent). */
  private def nswBeamFrom(spark: SparkSession, dir: String,
      verts: DataFrame, edges: DataFrame, seed: DataFrame,
      beamWidth: Int): DataFrame = {
    val probe = probeOf(Tables(spark, dir))
    // r15: the beam/seed side is shards×beam rows at ANY corpus size
    // (the index side is what grows), so it rides explicit broadcasts
    // into the vertex-score and edge-expand joins — each hop stops
    // planning an AQE shuffle stage for a ≤64-row frame (the same
    // job-train diet as the label loops; guide §2.4/§3.1)
    def scoreOf(ids: DataFrame): DataFrame =
      verts.join(broadcast(ids), Seq("shard", "vec_id"), "left_semi")
        .crossJoin(broadcast(probe))
        .select(col("shard"), col("vec_id"),
          round(dot(col("v"), col("probe_vec"))
            / (col("nrm") * col("probe_nrm")), 4).as("sim"))
    val wB = Window.partitionBy(col("shard"))
      .orderBy(col("sim").desc, col("vec_id"))
    var beam = scoreOf(seed.select(col("shard"), col("vec_id")))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= beamWidth).drop("rn")
    for (_ <- 1 to NswHops) {
      val expand = edges
        .join(broadcast(beam.select(col("shard"), col("vec_id").as("src"))),
          Seq("shard", "src"))
        .select(col("shard"), col("dst").as("vec_id"))
      val cand = beam.select(col("shard"), col("vec_id"))
        .unionByName(expand).distinct()
      // each hop's beam is S·B rows — checkpoint to keep the unioned
      // lineage from replaying earlier hops exponentially
      beam = scoreOf(cand)
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= beamWidth).drop("rn")
        .localCheckpoint(true)
    }
    beam
  }

  /** Recall@10 of the partitioned-NSW beam search vs the exact cosine
    * top-10 — the eval row that sits beside [[embedRecallEval]] /
    * [[embedRecallPq]] / int8 / binary: same k-row left join, same
    * integer permille. */
  def embedRecallNsw(spark: SparkSession, dir: String): DataFrame = {
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    val ann = embedAnnNsw(spark, dir).select(col("vec_id").as("a_id"))
    exact.join(ann, col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** HNSW layer-1 membership modulus (P(level ≥ 1) = 1/4 — the
    * geometric level draw, derandomized) and the layer-1 beam width
    * (narrower than layer 0: the upper layer only routes). Shared
    * with the oracle. */
  val HnswL1Mod = 4
  val HnswL1Beam = 4

  /** Memoized layer-1 NSW graph: the md5-chosen quarter of each shard
    * wired into its own [[NswDegree]]-NN graph (HNSW's upper layer —
    * built among layer-1 members only, so the self-join is (S/4)² per
    * shard, bounded by the same shard-count-scales argument as
    * [[nswIndexCached]]). */
  private val hnswL1Cache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()
  private def hnswL1EdgesCached(spark: SparkSession,
      dir: String): DataFrame = hnswL1Cache.synchronized {
    hnswL1Cache.getOrElseUpdate((spark, dir), {
      val (verts, _) = nswIndexCached(spark, dir)
      val l1 = verts.filter(
        TextOps.md5Hash60(concat_ws(":", lit("graft-hnsw"),
          col("vec_id").cast("string"))) % HnswL1Mod === 0)
      val a = l1.select(col("shard"), col("vec_id").as("src"),
        col("v").as("av"), col("nrm").as("an"))
      val b = l1.select(col("shard"), col("vec_id").as("dst"),
        col("v").as("bv"), col("nrm").as("bn"))
      val w = Window.partitionBy(col("shard"), col("src"))
        .orderBy(col("sim").desc, col("dst"))
      a.join(b, Seq("shard"))
        .filter(col("src") =!= col("dst"))
        .select(col("shard"), col("src"), col("dst"),
          round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 4)
            .as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= NswDegree)
        .select(col("shard"), col("src"), col("dst"))
        .localCheckpoint(true)
    })
  }

  /** HIERARCHICAL NSW — the [[embedAnnNsw]] docstring's own "HNSW
    * without the hierarchy" caveat, answered: a derandomized geometric
    * level draw promotes 1/[[HnswL1Mod]] of each shard to LAYER 1,
    * wired into its own in-shard NSW graph ([[hnswL1EdgesCached]]);
    * the search DESCENDS — a narrow [[HnswL1Beam]] beam routes across
    * the sparse upper layer first (from the min layer-1 vec_id per
    * shard, falling back to the shard min where a shard drew no
    * layer-1 member), and its final beam SEEDS the layer-0
    * [[NswBeam]] search over the full graph. The upper layer's long
    * jumps land the layer-0 search near the target instead of at the
    * fixed entry — the recall lever the flat-NSW row left on the
    * table, measured by [[embedRecallHnsw]] beside the flat 600‰.
    * Cost: one extra (S/4)²-per-shard build and one extra beam run —
    * same bounded-shard scaling as every NSW row. */
  def embedAnnHnsw(spark: SparkSession, dir: String): DataFrame = {
    val (verts, edges) = nswIndexCached(spark, dir)
    val l1edges = hnswL1EdgesCached(spark, dir)
    val l1 = verts.filter(
      TextOps.md5Hash60(concat_ws(":", lit("graft-hnsw"),
        col("vec_id").cast("string"))) % HnswL1Mod === 0)
    val entry = verts.groupBy(col("shard"))
      .agg(min(col("vec_id")).as("v_all"))
      .join(l1.groupBy(col("shard")).agg(min(col("vec_id")).as("v_l1")),
        Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("v_l1"), col("v_all")).as("vec_id"))
    val routed = nswBeamFrom(spark, dir, verts, l1edges, entry,
      HnswL1Beam)
    nswBeamFrom(spark, dir, verts, edges,
        routed.select(col("shard"), col("vec_id")), NswBeam)
      .select(col("vec_id"), col("shard"), col("sim").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Recall@10 of the two-layer HNSW descent vs the exact cosine
    * top-10 — sits beside [[embedRecallNsw]] so the hierarchy's
    * recall value is a measured number, not a claim. */
  def embedRecallHnsw(spark: SparkSession, dir: String): DataFrame = {
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    val ann = embedAnnHnsw(spark, dir).select(col("vec_id").as("a_id"))
    exact.join(ann, col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** The NSW delta split: vec_id % 5 == [[NswDeltaMod]] stands in for
    * the day's arrivals (the [[embedIndexDeltaAssign]] convention);
    * everything else is the committed base index. */
  val NswDeltaMod = 3

  /** Memoized POST-INSERT NSW index: (vertsAll, g0, fwd, spliced).
    * The INCREMENTAL maintenance path the persisted-NSW family was
    * missing ([[embedIndexDeltaAssign]] is the IVF analog): the base
    * graph `g0` is built over the committed corpus only (vec_id % 5 ≠
    * [[NswDeltaMod]]), then the delta batch inserts WITHOUT a rebuild —
    * (1) `fwd`: each arrival's [[NswDegree]] nearest in-shard BASE
    * neighbors (one delta⋈base within-shard join, O(batch·shard_size),
    * never corpus-pairwise), (2) `spliced`: real NSW backlinking — a
    * base vertex u gains each arrival d that SELECTED u as a forward
    * neighbor as a candidate (cosine is symmetric, so d's rounded sim
    * is u's), and u's adjacency re-trims to the top-[[NswDegree]] of
    * (old edges ∪ backlink candidates) by (sim desc, dst) — the
    * degree-bound prune every NSW insert runs, deterministic and
    * engine-replayable. Post-insert graph = spliced (base srcs) ∪ fwd
    * (delta srcs), searched by the unchanged [[nswBeamSearch]]. */
  private val nswDeltaCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame, DataFrame, DataFrame)]()
  private def nswDeltaIndexCached(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    nswDeltaCache.synchronized {
      nswDeltaCache.getOrElseUpdate((spark, dir), {
        VectorExpressions.register(spark)
        val verts = withNorm(Tables(spark, dir))
          .select(col("vec_id"),
            pmod(TextOps.md5Hash60(concat_ws(":", lit("graft-nsw"),
              col("vec_id").cast("string"))), lit(NswShards)).as("shard"),
            col("v"), col("nrm"))
          .localCheckpoint(true)
        val base = verts.filter(col("vec_id") % 5 =!= NswDeltaMod)
        val delta = verts.filter(col("vec_id") % 5 === NswDeltaMod)
        val b = base.select(col("shard"), col("vec_id").as("dst"),
          col("v").as("bv"), col("nrm").as("bn"))
        val w = Window.partitionBy(col("shard"), col("src"))
          .orderBy(col("sim").desc, col("dst"))
        def knnToBase(src: DataFrame): DataFrame =
          src.select(col("shard"), col("vec_id").as("src"),
              col("v").as("av"), col("nrm").as("an"))
            .join(b, Seq("shard"))
            .filter(col("src") =!= col("dst"))
            .select(col("shard"), col("src"), col("dst"),
              round(dot(col("av"), col("bv")) / (col("an") * col("bn")),
                4).as("sim"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= NswDegree)
            .select(col("shard"), col("src"), col("dst"), col("sim"))
        val g0 = knnToBase(base).localCheckpoint(true)
        val fwd = knnToBase(delta).localCheckpoint(true)
        // backlink: u's candidate list = old adjacency ∪ arrivals that
        // picked u; re-trim to the degree bound
        val backc = fwd.select(col("shard"), col("dst").as("src"),
          col("src").as("dst"), col("sim"))
        val spliced = g0.unionByName(backc)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= NswDegree)
          .select(col("shard"), col("src"), col("dst"), col("sim"))
          .localCheckpoint(true)
        (verts, g0, fwd, spliced)
      })
    }

  /** Memoized HNSW DELTA layer-1 frames: (l1fwd, l1spliced) — the
    * upper-layer half of the hierarchical insert. Level draw for
    * arrivals is the SAME md5 quarter as [[hnswL1EdgesCached]] (an
    * arrival's level is a pure function of its id, exactly as HNSW
    * draws it at insert time); the base layer-1 graph is built among
    * base∩level-1 members only, and the splice is the
    * [[nswDeltaIndexCached]] backlink re-trim verbatim. Layer-0
    * forward/splice frames are SHARED with the NSW delta — the
    * hierarchical insert only ADDS the sparse upper-layer work. */
  private val hnswDeltaCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private def hnswDeltaL1Cached(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = hnswDeltaCache.synchronized {
    hnswDeltaCache.getOrElseUpdate((spark, dir), {
      val (verts, _, _, _) = nswDeltaIndexCached(spark, dir)
      val l1 = verts.filter(
        TextOps.md5Hash60(concat_ws(":", lit("graft-hnsw"),
          col("vec_id").cast("string"))) % HnswL1Mod === 0)
      val base1 = l1.filter(col("vec_id") % 5 =!= NswDeltaMod)
      val delta1 = l1.filter(col("vec_id") % 5 === NswDeltaMod)
      val b = base1.select(col("shard"), col("vec_id").as("dst"),
        col("v").as("bv"), col("nrm").as("bn"))
      val w = Window.partitionBy(col("shard"), col("src"))
        .orderBy(col("sim").desc, col("dst"))
      def knn(src: DataFrame): DataFrame =
        src.select(col("shard"), col("vec_id").as("src"),
            col("v").as("av"), col("nrm").as("an"))
          .join(b, Seq("shard"))
          .filter(col("src") =!= col("dst"))
          .select(col("shard"), col("src"), col("dst"),
            round(dot(col("av"), col("bv")) / (col("an") * col("bn")),
              4).as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= NswDegree)
          .select(col("shard"), col("src"), col("dst"), col("sim"))
      val g1 = knn(base1)
      val fwd1 = knn(delta1).localCheckpoint(true)
      val spliced1 = g1
        .unionByName(fwd1.select(col("shard"), col("dst").as("src"),
          col("src").as("dst"), col("sim")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= NswDegree)
        .select(col("shard"), col("src"), col("dst"), col("sim"))
        .localCheckpoint(true)
      (fwd1, spliced1)
    })
  }

  /** HNSW INCREMENTAL INSERT census — [[embedIndexNswDelta]]'s
    * hierarchical sibling, so index MAINTENANCE is symmetric across
    * both graph-index shapes: per shard, arrivals, how many drew
    * layer 1, and the forward-edge counts added at each layer (the
    * layer-0 numbers are the shared NSW-delta frames; layer 1 adds
    * the sparse upper-graph splice). */
  def embedIndexHnswDelta(spark: SparkSession, dir: String): DataFrame = {
    val (verts, _, fwd0, _) = nswDeltaIndexCached(spark, dir)
    val (fwd1, spliced1) = hnswDeltaL1Cached(spark, dir)
    val deltas = verts.filter(col("vec_id") % 5 === NswDeltaMod)
      .select(col("shard"), col("vec_id"),
        (TextOps.md5Hash60(concat_ws(":", lit("graft-hnsw"),
          col("vec_id").cast("string"))) % HnswL1Mod === 0).as("is_l1"))
    val nNew = deltas.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("is_l1"), 1L).otherwise(0L)).as("n_new_l1"))
    val nF0 = fwd0.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_fwd_l0"))
    val nF1 = fwd1.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_fwd_l1"))
    val nS1 = spliced1.filter(col("dst") % 5 === NswDeltaMod)
      .select(col("shard"), col("src")).distinct()
      .groupBy(col("shard")).agg(count(lit(1)).as("n_spliced_l1"))
    nNew
      .join(nF0, Seq("shard"), "left")
      .join(nF1, Seq("shard"), "left")
      .join(nS1, Seq("shard"), "left")
      .select(col("shard"), col("n_new"), col("n_new_l1"),
        coalesce(col("n_fwd_l0"), lit(0L)).as("n_fwd_l0"),
        coalesce(col("n_fwd_l1"), lit(0L)).as("n_fwd_l1"),
        coalesce(col("n_spliced_l1"), lit(0L)).as("n_spliced_l1"))
      .orderBy(col("shard"))
  }

  /** Recall@10 of the HNSW DESCENT over the POST-INSERT two-layer
    * graph — the [[embedRecallNswDelta]] re-eval with the hierarchy:
    * route across the spliced layer-1 graph, seed the layer-0 beam
    * over the spliced base + forward delta edges, score vs the exact
    * corpus top-10. */
  def embedRecallHnswDelta(spark: SparkSession, dir: String): DataFrame = {
    val (verts, _, fwd0, spliced0) = nswDeltaIndexCached(spark, dir)
    val (fwd1, spliced1) = hnswDeltaL1Cached(spark, dir)
    val e0 = spliced0.select(col("shard"), col("src"), col("dst"))
      .unionByName(fwd0.select(col("shard"), col("src"), col("dst")))
    val e1 = spliced1.select(col("shard"), col("src"), col("dst"))
      .unionByName(fwd1.select(col("shard"), col("src"), col("dst")))
    val l1 = verts.filter(
      TextOps.md5Hash60(concat_ws(":", lit("graft-hnsw"),
        col("vec_id").cast("string"))) % HnswL1Mod === 0)
    val entry = verts.groupBy(col("shard"))
      .agg(min(col("vec_id")).as("v_all"))
      .join(l1.groupBy(col("shard")).agg(min(col("vec_id")).as("v_l1")),
        Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("v_l1"), col("v_all")).as("vec_id"))
    val routed = nswBeamFrom(spark, dir, verts, e1, entry, HnswL1Beam)
    val ann = nswBeamFrom(spark, dir, verts, e0,
        routed.select(col("shard"), col("vec_id")), NswBeam)
      .select(col("vec_id"), col("shard"), col("sim").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id").as("a_id"))
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    exact.join(ann, col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** NSW INCREMENTAL INSERT census — the maintenance report of the
    * [[nswDeltaIndexCached]] splice, per shard: arrivals, forward
    * edges added, base vertices whose adjacency changed (gained ≥1
    * arrival), and base edges evicted by the degree-bound prune. All
    * exact integer counts; one small agg per frame over the already
    * built index. */
  def embedIndexNswDelta(spark: SparkSession, dir: String): DataFrame = {
    val (verts, g0, fwd, spliced) = nswDeltaIndexCached(spark, dir)
    val nNew = verts.filter(col("vec_id") % 5 === NswDeltaMod)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_new"))
    val nFwd = fwd.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_fwd_edges"))
    val nSpliced = spliced.filter(col("dst") % 5 === NswDeltaMod)
      .select(col("shard"), col("src")).distinct()
      .groupBy(col("shard")).agg(count(lit(1)).as("n_spliced"))
    val nEvicted = g0.select(col("shard"), col("src"), col("dst"))
      .join(spliced.select(col("shard"), col("src"), col("dst")),
        Seq("shard", "src", "dst"), "left_anti")
      .groupBy(col("shard")).agg(count(lit(1)).as("n_evicted"))
    nNew
      .join(nFwd, Seq("shard"), "left")
      .join(nSpliced, Seq("shard"), "left")
      .join(nEvicted, Seq("shard"), "left")
      .select(col("shard"),
        col("n_new"),
        coalesce(col("n_fwd_edges"), lit(0L)).as("n_fwd_edges"),
        coalesce(col("n_spliced"), lit(0L)).as("n_spliced"),
        coalesce(col("n_evicted"), lit(0L)).as("n_evicted"))
      .orderBy(col("shard"))
  }

  /** Recall@10 of the beam search over the POST-INSERT NSW graph vs
    * the exact cosine top-10 over the FULL corpus — the re-eval that
    * closes the insert loop (arrivals must be reachable through the
    * spliced backlinks for the searcher to ever return them): same
    * k-row left join and integer permille as [[embedRecallNsw]]. */
  def embedRecallNswDelta(spark: SparkSession, dir: String): DataFrame = {
    val (verts, _, fwd, spliced) = nswDeltaIndexCached(spark, dir)
    val edges = spliced.select(col("shard"), col("src"), col("dst"))
      .unionByName(fwd.select(col("shard"), col("src"), col("dst")))
    val ann = nswBeamSearch(spark, dir, verts, edges)
      .select(col("vec_id").as("a_id"))
    val exact = embedCosineTopk(spark, dir).select(col("vec_id"))
    exact.join(ann, col("vec_id") === col("a_id"), "left")
      .agg(count(lit(1)).as("k"), count(col("a_id")).as("hits"))
      .select(col("k"), col("hits"),
        expr("(hits * 1000) div k").as("recall_permille"))
  }

  /** Output dimensionality of [[graphWalkEmbed]]. */
  val WalkEmbedDims = 16

  /** WALKS → VECTORS — the step that makes node2vec walks an
    * EMBEDDING, closing the loop walk table → per-vertex vectors →
    * the existing `embed_*` serving/quantization stack. The published
    * equivalence (PMI-factorization view of skip-gram) says skip-gram
    * embeddings factor the PPMI co-occurrence matrix, so the
    * deterministic oracle-able construction is PPMI + fixed RANDOM
    * PROJECTION (random indexing): (1) skip-gram pairs from each
    * walk (window ±2 over the 4-vertex sequence, both directions,
    * dead-end nulls dropped), (2) co-occurrence counts n(v,c) and
    * marginals in one keyed agg each, (3) the association score is
    * the EXACT INTEGER RATIONAL score_micro =
    * (1e6·n_vc·T) div (n_v·n_c), kept where the lift ratio exceeds
    * 1 (score_micro > 1e6) — a monotone transform of PMI with the
    * same positive-association support, and, unlike a rounded double
    * `ln`, free of libm/engine-version rounding boundaries on the
    * hashed surface (a 9dp-rounded `ln` variant shipped in r11 and
    * hash-diverged between DuckDB builds),
    * (4) dimension j of vertex v = Σ_c score(v,c)·sign(c,j) with
    * sign(c,j) = ±1 by the parity of the engine-neutral
    * md5Hash60('graft-rp:c:j') — a signed random projection of v's
    * PPMI row, computed by [[WalkEmbedDims]] conditional sums inside
    * ONE agg pass (the sign matrix is a hash function, never
    * materialized).
    *
    * 100 TB shape: pair explode is walk-table-linear (≤ 10 pairs per
    * 4-vertex walk), everything downstream is keyed aggs on (v,c) /
    * v / c — map-side combinable, no joins bigger than the pair
    * frame, vertex-count output. Longer walks grow the window work
    * linearly (window × steps), never quadratically in the corpus. */
  def graphWalkEmbed(spark: SparkSession, dir: String): DataFrame = {
    val walks = GraphOps.node2vecWalksCached(spark, dir)
    val pairs0 = walks
      .select(array(col("walk_id"), col("v1"), col("v2"), col("v3"))
        .as("s"))
      .select(col("s"), explode(sequence(lit(1), lit(4))).as("i"))
      .select(col("s"), col("i"),
        explode(sequence(lit(1), lit(4))).as("j"))
      .filter(col("j") > col("i") && col("j") <= col("i") + 2)
      .select(element_at(col("s"), col("i")).as("a"),
        element_at(col("s"), col("j")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val pc = pairs0.select(col("a").as("v"), col("b").as("c"))
      .unionByName(pairs0.select(col("b").as("v"), col("a").as("c")))
    val nvc = pc.groupBy(col("v"), col("c")).agg(count(lit(1)).as("nvc"))
    val nv = nvc.groupBy(col("v")).agg(sum(col("nvc")).as("nv"))
    val nc = nvc.groupBy(col("c")).agg(sum(col("nvc")).as("nc"))
    val tot = nvc.agg(sum(col("nvc")).as("t"))
    val scored = nvc.join(nv, "v").join(nc, "c")
      .crossJoin(broadcast(tot))
      .select(col("v"), col("c"),
        expr("""CAST((CAST(nvc AS DECIMAL(38,0)) * 1000000 * t)
                 div (CAST(nv AS DECIMAL(38,0)) * nc) AS BIGINT)""")
          .as("score_micro"))
      .filter(col("score_micro") > 1000000L)
    val dims = (0 until WalkEmbedDims).map { j =>
      val sign = TextOps.md5Hash60(concat_ws(":", lit("graft-rp"),
        col("c").cast("string"), lit(j.toString))) % 2 === 0
      // DECIMAL(38,0) for the overflow-safe SUM, but the HASHED output
      // column is BIGINT: the driver's two read paths canonicalize
      // DECIMAL differently (r12's only red row), and max |dim| ≈ 1e11
      // leaves 8 orders of headroom under 2^63.
      sum(when(sign, col("score_micro")).otherwise(-col("score_micro")))
        .cast(DecimalType(38, 0)).cast("long").as(f"d$j%02d")
    }
    scored.groupBy(col("v").as("id"))
      .agg(dims.head, dims.tail: _*)
      .orderBy(col("id"))
  }
}
