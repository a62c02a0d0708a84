package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** §2.10 text analysis + deduplication for LLM training-data pipelines.
  *
  * Dedup family (designed to scan once and shuffle on small keys):
  *  - exact:   sha2 content hash → group → keep min id
  *  - MinHash: 16 md5-derived minima over token trigram shingles, 8×2
  *    LSH banding → candidate pairs → exact-Jaccard verify. At 100 TB
  *    the band-bucket join is the only super-linear step; buckets are
  *    salted by band id and bounded by the verify stage.
  *  - SimHash: 60-bit signature from per-token hash bit votes; candidate
  *    pairs share ≥1 of 4 exact 15-bit chunks (pigeonhole for hamming ≤ 3).
  *  - n-gram Jaccard: exact trigram-set overlap via explode + equi-join
  *    on the shingle (oracle-checkable — no engine-specific hashing).
  *
  * The whole hash family runs on [[md5Hash60]] (engine-neutral md5
  * prefix, not Spark's seeded murmur3) precisely so every member is
  * DuckDB-oracle-checkable — the approximate ops' candidate generation
  * is replayed bit-for-bit by the oracle SQL, the same trick
  * `embed_pair_sim_lsh` uses with its shared sign matrix.
  *
  * Tokenization note: `split(text, ' ')` everywhere — corpus text is
  * single-space-separated lowercase tokens (TESTDATA.md), identical to
  * DuckDB `string_split`.
  */
object TextOps {

  /** 60-bit engine-neutral hash: the first 15 hex chars of md5, read as
    * a BIGINT. DuckDB computes the identical value via
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`, which is what turns the
    * hash-based dedup family from scalatest-only into DuckDB-oracled.
    * 15 hex chars = 60 bits, comfortably inside a signed 64-bit long —
    * and md5's avalanche property makes the truncation as uniform as
    * the full digest. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Memoized persisted shingle tables, keyed per (session, dir) —
    * dedupNearMinhash and textNgramJaccard both consume the same
    * shingles several times (signature + verify stages, repeated test
    * calls); without memoization each call would leave a fresh
    * persisted copy in the block manager for the JVM lifetime. */
  private val shingleCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()

  /** Token-trigram shingles, distinct per doc: (doc_id, shingle).
    * Guarded for docs with < 3 tokens (Spark's `sequence(1,0)` would
    * descend, not return empty). */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate((spark, dir),
      Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(array_distinct(expr(
          """CASE WHEN size(t) >= 3 THEN
               transform(sequence(1, size(t) - 2),
                 i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
                                element_at(t, i + 2)))
             ELSE array() END"""))).as("shingle"))
        .persist())

  /** Document-frequency cap for the exact n-gram join: shingles
    * appearing in more docs than this are dropped before pairing. A
    * shingle with df D produces C(D,2) join rows, so one stop-phrase
    * across a 100 TB corpus would otherwise go quadratic; ultra-common
    * shingles carry no near-dup signal anyway (standard df-capping).
    * Far above the corpus max (25 at sf0.1) so tested output is
    * unchanged. */
  val MaxShingleDf = 1000

  /** LSH bucket-size cap: (band_id, band_hash) buckets larger than this
    * are dropped before the candidate self-join. A degenerate bucket
    * (hash pileup, boilerplate-heavy corpus) would otherwise produce
    * C(bucket,2) candidates; with 8 independent bands, a true near-dup
    * pair only loses detection if ALL its shared bands are degenerate. */
  val MaxLshBucket = 64

  /** Keep only shingle rows whose shingle has df ≤ [[MaxShingleDf]]. */
  def capShingleDf(sh: DataFrame): DataFrame =
    sh.join(sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf).select("shingle"),
      Seq("shingle"), "left_semi")

  /** Keep only band rows in buckets of size ≤ [[MaxLshBucket]]. */
  def capLshBuckets(bands: DataFrame): DataFrame =
    bands.join(bands.groupBy(col("band_id"), col("band_hash"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= MaxLshBucket)
        .select("band_id", "band_hash"),
      Seq("band_id", "band_hash"), "left_semi")

  /** Exact-duplicate clusters by sha2 content hash; keep min doc_id as
    * canonical. (The corpus has no exact dups — every cluster has
    * n_copies=1 — but the plan is the real one: hash → shuffle on the
    * 32-byte key → min.) */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  /** Modulus for the derived minhash family: the Mersenne prime
    * 2^31 − 1 keeps every `a·h + b` product inside a 64-bit long, so
    * the 16 hashes cost ONE md5 plus long arithmetic (the 16-md5
    * variant measured 5× slower at sf0.1) and the identical BIGINT
    * expressions run in DuckDB without HUGEINT. 31-bit values give a
    * per-pair per-hash collision probability of 2⁻³¹ — immaterial to
    * LSH banding even at corpus scale. */
  val MinhashP = 2147483647L
  def minhashA(i: Int): Long = 1000003L * (2L * i + 1)
  def minhashB(i: Int): Long = 777767777L * (i + 1)

  /** MinHash-LSH near-dup detection, DuckDB-oracled since round 4: the
    * 16 per-shingle hashes derive from one [[md5Hash60]] base via the
    * fixed affine family `(minhashA(i)·h + minhashB(i)) mod MinhashP`,
    * so the oracle SQL replays signature construction, banding, the
    * bucket cap, and the exact-Jaccard verify identically.
    * Pipeline: shingle → 16 min-hashes → 8 bands of 2 → band-bucket
    * join → exact-Jaccard verify ≥ 0.5.
    *
    * Banding: 8×2 places the LSH S-curve threshold at (1/b)^(1/r) =
    * (1/8)^(1/2) ≈ 0.35 — tuned BELOW the 0.5 verify threshold, so a
    * J = 0.8 near-dup is caught with p ≈ 0.9997 and J = 0.5 with
    * p ≈ 0.9. The earlier 4×4 put the knee at 0.71: a J = 0.8 pair was
    * missed 12% of the time, i.e. the banding silently under-recalled
    * the very pairs the verify stage accepts. More bands admit more
    * random candidates, but the verify join and bucket cap already
    * bound that slice. */
  def dedupNearMinhash(spark: SparkSession, dir: String): DataFrame = {
    val (_, cand) = minhashSigCand(spark, dir)
    exactOverlap(shingles(spark, dir), cand)
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast(DoubleType)
          / (col("na") + col("nb") - col("inter")), 3).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Exact shingle overlap for a candidate pair list: (a_id, b_id,
    * inter, na, nb), zero-intersection candidates kept via the left
    * join — ONE definition shared by the detector's verify stage and
    * [[dedupMinhashEval]], so the two can never measure different
    * quantities. */
  private def exactOverlap(sh: DataFrame, cand: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"),
        col("shingle").as("shingle_b")), "b_id")
      .filter(col("shingle") === col("shingle_b"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    cand
      .join(inter, Seq("a_id", "b_id"), "left")
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")),
        "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        col("na"), col("nb"))
  }

  /** Shared MinHash signature + banded-candidate construction for
    * [[dedupNearMinhash]] and [[dedupMinhashEval]]: 16 affine hashes
    * off one md5, 8×2 banding, bucket cap. Band key = the 2 member
    * minima comma-joined — engine-neutral equality key (a murmur
    * re-hash would be one fewer byte per row but not SQL-replayable).
    * Returns (signatures with m_0..m_15, candidate pairs), both
    * persisted behind a session-lifetime memo: the eval consumes sig
    * twice and cand twice in ONE plan (Catalyst does not deduplicate
    * common subplans), so unpersisted frames would re-run the
    * signature agg and banding join ~4× per action. synchronized:
    * the Sources.materialize rule. */
  private val minhashCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private def minhashSigCand(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = minhashCache.synchronized {
    minhashCache.getOrElseUpdate((spark, dir), {
      val (sig, cand) = buildMinhashSigCand(spark, dir)
      (sig.persist(), cand.persist())
    })
  }

  /** 8×2 band rows (doc_id, band_id, band_hash) off a signature frame
    * — shared by the batch candidate join and the incremental index. */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 8).map { b =>
      concat_ws(",", (0 until 2).map(r => col(s"m_${2 * b + r}")): _*)
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band_id", "band_hash")
  }

  private def buildMinhashSigCand(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val sh = shingles(spark, dir)
    val hashed = sh.withColumn("hb", md5Hash60(col("shingle")) % MinhashP)
    val mins = (0 until 16).map(i =>
      min((lit(minhashA(i)) * col("hb") + lit(minhashB(i))) % MinhashP)
        .as(s"m_$i"))
    val sig = hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bands = capLshBuckets(bandsOf(sig))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    (sig, cand)
  }

  /** Estimator-accuracy evaluation for the MinHash family — the eval
    * harness a dedup pipeline ships next to its estimator (the
    * [[graft.ops.VectorOps.embedRecallEval]] counterpart for text):
    * per LSH candidate pair, the MinHash Jaccard ESTIMATE (agreeing
    * minima / 16) against the EXACT shingle Jaccard, both in integer
    * permille, plus the absolute error. All-integer arithmetic over
    * the md5-derived family keeps even the estimator itself
    * DuckDB-replayable. Candidates with no shared shingle (a band
    * collision of unequal argmins) read exact = 0 via the left join.
    * Same bounded candidate slice as the detector — never all-pairs. */
  def dedupMinhashEval(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    val (sig, cand) = minhashSigCand(spark, dir)
    val sigAs = (p: String) => sig.select(
      col("doc_id").as(s"${p}_id") +:
        (0 until 16).map(i => col(s"m_$i").as(s"${p}_m_$i")): _*)
    val matches = (0 until 16).map(i =>
      when(col(s"a_m_$i") === col(s"b_m_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand.join(sigAs("a"), "a_id").join(sigAs("b"), "b_id")
      .select(col("a_id"), col("b_id"), matches.as("matches"))
    est
      .join(exactOverlap(sh, cand), Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"),
        expr("CAST(matches * 1000 div 16 AS BIGINT)").as("est_permille"),
        expr("CAST(inter * 1000 div (na + nb - inter) AS BIGINT)")
          .as("exact_permille"))
      .withColumn("err_permille",
        abs(col("est_permille") - col("exact_permille")))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The incremental split: every doc_id ≡ 3 (mod 7) plays the role of
    * "today's batch"; the rest are the already-indexed corpus. */
  val IncBatchMod = 7
  val IncBatchRem = 3

  /** Memoized persisted LSH index of the EXISTING corpus: capped band
    * rows written partitioned by band_id, the artifact an incremental
    * dedup service keeps warm between batches. */
  private val lshIndexCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), String]()
  private def lshIndexDir(spark: SparkSession, dir: String): String =
    lshIndexCache.synchronized {
      lshIndexCache.getOrElseUpdate((spark, dir), {
        val (sig, _) = minhashSigCand(spark, dir)
        val existing = capLshBuckets(bandsOf(
          sig.filter(col("doc_id") % IncBatchMod =!= IncBatchRem)))
        val base = graft.TempDirs.create("graft-lsh-index")
        existing.repartition(col("band_id"))
          .write.partitionBy("band_id").parquet(s"$base/bands")
        s"$base/bands"
      })
    }

  /** INCREMENTAL near-dup detection — the between-retrains path of the
    * MinHash family ([[dedupNearMinhash]] is the full-corpus batch
    * sweep; this is what runs on each arriving batch): the existing
    * corpus's capped LSH bands are PERSISTED once ([[lshIndexDir]],
    * partitioned by band_id), and a new batch probes that index with
    * its own band rows — cost O(batch), never O(corpus), because the
    * batch only joins the matching band partitions. Candidates are
    * exact-Jaccard verified (≥ 0.5, the same verify as the batch
    * detector) and each new doc reports `dup` with its earliest match
    * or `new`. The signature construction is the shared md5-affine
    * family, so the whole incremental path is DuckDB-oracled. */
  def dedupIncrementalLsh(spark: SparkSession, dir: String): DataFrame = {
    val (sig, _) = minhashSigCand(spark, dir)
    val index = spark.read.parquet(lshIndexDir(spark, dir))
    val fresh = bandsOf(
      sig.filter(col("doc_id") % IncBatchMod === IncBatchRem))
    val cand = fresh.as("n").join(index.as("e"),
        col("n.band_id") === col("e.band_id") &&
          col("n.band_hash") === col("e.band_hash"))
      .select(col("n.doc_id").as("a_id"), col("e.doc_id").as("b_id"))
      .distinct()
    val dups = exactOverlap(shingles(spark, dir), cand)
      .filter(round(col("inter").cast(DoubleType)
        / (col("na") + col("nb") - col("inter")), 3) >= 0.5)
      .groupBy(col("a_id")).agg(min(col("b_id")).as("dup_of"))
    Tables(spark, dir).documents
      .filter(col("doc_id") % IncBatchMod === IncBatchRem)
      .select(col("doc_id"))
      .join(dups, col("doc_id") === col("a_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, "new").otherwise("dup").as("status"),
        col("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup candidates, DuckDB-oracled since round 4 (token
    * hash = [[md5Hash60]], so signatures are engine-identical). 60-bit
    * signature: bit j set when Σ_tokens (±1 by hash bit j) > 0.
    * Candidates share one of 4 exact 15-bit chunks (pigeonhole
    * guarantee for hamming ≤ 3); random doc pairs differ by ~30 bits so
    * the chunk join prunes virtually all of the O(n²) space. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val tokHash = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), md5Hash60(col("tok")).as("h"))
    val votes = (0 until 60).map(j =>
      sum(when((shiftright(col("h"), j).bitwiseAND(1)) === 1, 1)
        .otherwise(-1)).as(s"s_$j"))
    val sums = tokHash.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until 60).map(j =>
        when(col(s"s_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val sigs = sums.select(col("doc_id"), sim.as("simhash"))
    val chunkCols = (0 until 4).map(c =>
      shiftright(col("simhash"), 15 * c).bitwiseAND(32767).as(s"c_$c"))
    val chunks = sigs.select(col("doc_id") +: col("simhash") +: chunkCols: _*)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(c => col(s"c_$c")): _*)))
      .toDF("doc_id", "simhash", "chunk_id", "chunk_val")
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .select(col("a_id"), col("b_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Exact n-gram (token trigram) Jaccard similarity for all pairs
    * sharing ≥1 shingle — the oracle-checkable near-dup ground truth
    * (finds the corpus's planted ~0.99-Jaccard pairs). Jaccard is
    * computed over the df-capped shingle universe ([[capShingleDf]],
    * mirrored in the oracle SQL) so the shingle self-join is bounded. */
  def textNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = capShingleDf(shingles(spark, dir))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast(DoubleType)
          / (col("na") + col("nb") - col("inter")), 3).as("jaccard"))
      .filter(col("jaccard") >= 0.05)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Asymmetric containment: |A∩B| / |A| over the same df-capped
    * shingle universe as [[textNgramJaccard]] — the near-dup measure
    * Jaccard MISSES: a short document wholly quoted inside a long one
    * has low Jaccard (the union is large) but containment ≈ 1 from the
    * short side, which is exactly the excerpt/boilerplate case a
    * training-data dedup pass must catch. Emitted directionally (a→b
    * and b→a scored separately, ordered pairs); same bounded shingle
    * self-join shape as the Jaccard op, so the df-cap scale argument
    * carries over unchanged. */
  def textNgramContainment(spark: SparkSession, dir: String): DataFrame = {
    val sh = capShingleDf(shingles(spark, dir))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")),
        "a_id")
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast(DoubleType) / col("na"), 3)
          .as("containment"))
      .filter(col("containment") >= 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Final step of the dedup pipeline: group near-duplicate documents
    * into clusters (connected components over the exact-Jaccard ≥ 0.5
    * pair graph) and elect the min doc_id as each cluster's canonical
    * representative — the doc a training-data pipeline KEEPS.
    *
    * Components via [[GraphOps.minLabelComponents]] (exact at any
    * component diameter — a driver union-find under its size gate,
    * min-label propagation run until stable above it — matching the
    * oracle's exact transitive closure). */
  def dedupClusterCanonical(spark: SparkSession, dir: String): DataFrame =
    clusterLabelsCached(spark, dir)
      .select(col("id").as("doc_id"), col("cluster"),
        (col("id") === col("cluster")).as("is_canonical"))
      .orderBy(col("doc_id"))

  /** Memoized near-dup cluster labeling (connected components over the
    * exact-Jaccard ≥ 0.5 pair graph) — `dedup_cluster_canonical`,
    * `corpus_dedup_impact` and `dedup_cluster_sizes` all consume the
    * identical labeling, which previously re-ran the min-label loop
    * per caller (r14). One build per (session, dir). */
  private val clusterLabelsCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()
  private[ops] def clusterLabelsCached(spark: SparkSession,
      dir: String): DataFrame = clusterLabelsCache.synchronized {
    clusterLabelsCache.getOrElseUpdate((spark, dir), {
      val pairs = textNgramJaccard(spark, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("a_id"), col("b_id"))
      val verts = Tables(spark, dir).documents
        .select(col("doc_id").as("id"))
      val (labels, chk) = GraphOps.minLabelComponentsChk(verts, pairs)
      val out = labels.localCheckpoint(true)
      chk.unpersist(false)
      out
    })
  }

  /** NEAR-DUP CLUSTER SIZE CENSUS — the shape of the duplication a
    * pipeline is about to collapse: for each cluster size s, how many
    * clusters and how many documents sit in s-sized groups. The
    * singleton row (s = 1) is the untouched mass; the tail tells a
    * dedup owner whether duplication is a few huge families (boiler-
    * plate, mirrored sites — worth a root-cause look) or broad
    * pairwise noise. Rides the memoized cluster labeling; marginal
    * cost two bounded aggs (cluster-keyed, then size-keyed). */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    clusterLabelsCached(spark, dir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("s"))
      .groupBy(col("s").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("s")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** DEDUP IMPACT REPORT — what the near-dup clustering actually buys,
    * in tokens: per source, the documents a canonical-only export
    * would DROP (non-canonical members of [[dedupClusterCanonical]]'s
    * clusters) and the token mass they carry, as an exact permille of
    * the source's budget. This is the number a pipeline owner weighs
    * against the dedup pass's cost — and joined with
    * [[corpusMixReport]], the mix correction dedup implies. Rides the
    * same cluster labeling; marginal cost one doc-keyed join + a
    * source agg. */
  def corpusDedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusterCanonical(spark, dir)
      .select(col("doc_id"), col("is_canonical"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .join(cl, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("is_canonical"), 1L).otherwise(0L))
          .as("n_removed_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(!col("is_canonical"), col("n_tok")).otherwise(0L))
          .as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_removed_docs"),
        col("n_tokens"), col("tokens_removed"),
        expr("(1000 * tokens_removed) div n_tokens")
          .as("removed_permille"))
      .orderBy(col("source"))
  }

  /** Token frequency per language (tokenize → explode → count). */
  def textTokenizeTf(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"), col("tok"))

  /** Corpus vocabulary census with Zipf rank and cumulative coverage —
    * the table a tokenizer/vocab build reads before fixing its vocab
    * size ("how many types cover 95% of tokens"). One explode +
    * token-keyed count (map-side combined, shuffle carries one row per
    * type), then a single ordered window over the VOCABULARY — O(types),
    * independent of corpus volume, so the global window is a bounded
    * exception like the gap-fill spine; coverage share in exact
    * permille (integer div, no float). */
  def textVocabZipf(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("t_total"))
    val w = Window.orderBy(col("cnt").desc, col("tok"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(total))
      .select(col("tok"), col("cnt"),
        row_number().over(w).as("zipf_rank"),
        (sum(col("cnt")).over(wRun) * 1000).as("run1000"),
        col("t_total"))
      .select(col("tok"), col("cnt"), col("zipf_rank"),
        expr("run1000 div t_total").as("cum_permille"))
      .orderBy(col("zipf_rank"))
  }

  /** Top-3 terms per source by tf-idf (idf = ln((D+1)/(df+1))).
    * Window ordered on the ROUNDED score so cross-engine last-ulp ln
    * drift cannot flip ranks.
    *
    * Transcendental provenance (r12 audit): the hashed `tfidf` is a
    * 6dp-rounded ln over distinct (D, df) pairs (≤ vocab size, ~1e4);
    * a libm flip needs a ~2e-15 hit on a 0.5e-6 boundary — P ≈ 4e-9
    * per pair, ~4e-5 corpus-wide (vs ~7% at the 9dp quantum that
    * failed r11's walk embed). */
  def textTfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("d_total"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(total))
      .select(col("source"), col("tok"),
        round(col("tf") * log((col("d_total") + 1).cast(DoubleType)
          / (col("df") + 1)), 6).as("tfidf"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("tfidf").desc, col("tok"))
    scored.select(col("source"), col("tok"), col("tfidf"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 3)
      .orderBy(col("source"), col("rk"))
  }

  /** Per-language corpus stats. */
  def textLangStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        Det.avg2(col("n_chars").cast(DoubleType)).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))

  private val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Per-doc quality features: token count, mean token length, stopword
    * ratio, and a rational quality score (no transcendentals → exact
    * cross-engine arithmetic). */
  /** CURRICULUM PLAN — the ordering step a curriculum-training run
    * feeds its data loader: every document gets (1) an exact-integer
    * quality proxy q_permille = (1000·(tokens − stopwords)) div
    * (tokens + 1) (the [[textQualityScore]] signal, integer-quantized
    * so the plan is engine-exact), (2) a curriculum PHASE = quality
    * tercile via ntile(3) over the total order (q desc, doc_id) —
    * phase 1 trains first on the cleanest text, and (3) a
    * deterministic md5-shuffled position within its phase (the
    * [[corpusShuffleDeterministic]] discipline, so the loader's read
    * order is reproducible run to run). Global windows at census
    * scale; at 10⁹ docs the rank swaps to rangepartition +
    * partition-offset (values identical). */
  def corpusCurriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(filter(col("t"), t => array_contains(stopArr, t)))
          .cast(LongType).as("n_stop"))
      .select(col("doc_id"),
        expr("(1000 * (n_tokens - n_stop)) div (n_tokens + 1)")
          .as("q_permille"))
    val wQ = Window.orderBy(col("q_permille").desc, col("doc_id"))
    val phased = scored.withColumn("phase",
      ntile(3).over(wQ).cast(LongType))
    val wP = Window.partitionBy(col("phase"))
      .orderBy(md5Hash60(concat_ws(":", lit("graft-curr"),
        col("doc_id").cast("string"))), col("doc_id"))
    phased.withColumn("pos_in_phase",
        row_number().over(wP).cast(LongType))
      .select(col("doc_id"), col("q_permille"), col("phase"),
        col("pos_in_phase"))
      .orderBy(col("phase"), col("pos_in_phase"))
  }

  /** QUALITY × DEDUP CROSS-TAB — "is the near-dup collapse biased
    * toward good or bad text?": per quality band (the curriculum
    * q_permille quantized to 100-permille bands — a VALUE-DOMAIN cut,
    * no ranking window), how many documents sit there and what share
    * a canonical-only export would remove. A removal rate that climbs
    * with quality is the red flag this table exists to catch (dedup
    * eating the cleanest text, e.g. boilerplate-heavy high-scoring
    * templates); flat bands mean the collapse is quality-neutral.
    * Rides the session cluster labeling + one doc-keyed join + one
    * bounded band agg. */
  def corpusQualityVsDedup(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    val q = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(filter(col("t"), t => array_contains(stopArr, t)))
          .cast(LongType).as("n_stop"))
      .select(col("doc_id"),
        expr("(1000 * (n_tokens - n_stop)) div (n_tokens + 1)")
          .as("q"))
    val cl = clusterLabelsCached(spark, dir)
      .select(col("id").as("doc_id"),
        (col("id") =!= col("cluster")).as("removed"))
    q.join(cl, "doc_id")
      .groupBy(expr("q div 100").as("q_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("removed"), 1L).otherwise(0L))
          .as("n_removed_docs"))
      .select(col("q_band"), col("n_docs"), col("n_removed_docs"),
        expr("(1000 * n_removed_docs) div n_docs")
          .as("removed_permille"))
      .orderBy(col("q_band"))
  }

  def textQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        col("n_chars"))
      .select(col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(filter(col("t"), t => array_contains(stopArr, t)))
          .cast(LongType).as("n_stop"),
        round(aggregate(transform(col("t"), t => length(t)), lit(0),
          (acc, x) => acc + x).cast(DoubleType) / size(col("t")), 3)
          .as("avg_tok_len"),
        col("n_chars"))
      // single division of exact integers — no intermediate rounding, so
      // both engines produce the identical double before the final round
      .withColumn("stop_ratio",
        round(col("n_stop").cast(DoubleType) / col("n_tokens"), 3))
      .withColumn("quality",
        round((col("n_tokens") - col("n_stop")).cast(DoubleType)
          / (col("n_tokens") + 1), 4))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens, BPE-ish subword estimate
    * (⌈len/4⌉ per token — the 4-chars-per-token heuristic), chars. */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        col("text"))
      .select(col("doc_id"),
        size(col("t")).cast(LongType).as("ws_tokens"),
        aggregate(transform(col("t"),
            t => ceil(length(t) / lit(4.0)).cast(LongType)),
          lit(0L), (acc, x) => acc + x).as("bpe_est"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy(col("doc_id"))

  /** Total token budget the epoch plan allocates across sources. */
  val EpochPlanBudget = 10000000L

  /** Data-mixture EPOCH PLAN — the table every pretraining run
    * computes before launching: given per-source mix weights (the
    * same deterministic permille scheme as [[corpusMixWeighted]]) and
    * the tokens actually available per source, how many tokens the
    * budget allocates to each source and how many PASSES over that
    * source it implies (`epochs_micro`, 1_000_000 = exactly one
    * epoch; above that the plan repeats data — the over-epoching
    * warning an engineer reads off this table). All-integer floor
    * arithmetic; one source-keyed agg plus a broadcast scalar total,
    * so the plan costs a single shuffle at any corpus size. */
  def corpusEpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("source"), split(col("text"), " ").as("t"))
      .select(col("source"), size(col("t")).cast(LongType).as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("avail_tokens"))
      .withColumn("rate_permille", expr(
        """CAST(CASE CAST(substring(source, 4) AS INT) % 4
           WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250
           ELSE 125 END AS BIGINT)"""))
    val totals = toks.agg(sum(col("rate_permille")).as("w_total"))
    toks.crossJoin(broadcast(totals))
      .select(col("source"), col("rate_permille"), col("avail_tokens"),
        expr(s"(CAST($EpochPlanBudget AS BIGINT) * rate_permille)" +
          " div w_total").as("target_tokens"))
      .withColumn("epochs_micro",
        expr("(target_tokens * 1000000) div avail_tokens"))
      .orderBy(col("source"))
  }

  /** Language ID by token-distinctiveness voting, DuckDB-oracled since
    * round 4. Score(tok, lang) = ln(p(tok|lang)/p(tok)); doc gets the
    * argmax language by summed scores. Determinism: per-token scores
    * round to 9 decimals THEN sum as exact decimals, so the argmax
    * compares exact values; the 1e-12 epsilon inside the round (both
    * engines) pushes ln outputs off the half-boundary where Spark's
    * shortest-decimal-string rounding and DuckDB's binary rounding
    * disagree — the [[Det.avg2]] rule applied to transcendentals.
    * On this synthetic corpus (uniform token distribution) accuracy is
    * near-random — tests assert pipeline shape and determinism, not
    * accuracy.
    *
    * Transcendental provenance (r12 audit): the 9dp-rounded ln scores
    * are NOT on the hashed surface — only the per-doc ARGMAX language
    * and its boolean are. A single-score boundary flip (±1e-9)
    * changes the output only if two language totals tie within 1e-9,
    * a second coincidence on top of the ~4e-6-per-value boundary hit;
    * quantizing to integer rationals is unavailable here because the
    * classifier sums LOGS (products of rationals are unbounded). */
  /** Memoized scored frame of [[textLangId]] — `text_lang_id` and
    * `corpus_lang_confusion` consume the identical per-doc argmax, and
    * each previously re-ran the whole detector (the costliest text
    * scan outside the shingle family); one build per (session, dir),
    * the lpaLabelsCached sharing discipline. The frame is doc-sized
    * (one row per document). */
  private val langIdCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    langIdCache.synchronized {
      langIdCache.getOrElseUpdate((spark, dir),
        textLangIdScored(spark, dir))
    }.orderBy(col("doc_id"))

  private def textLangIdScored(spark: SparkSession,
      dir: String): DataFrame = {
    // r15: spread the scan when the corpus arrives in fewer splits
    // than cores. A single sub-rowgroup parquet file scans as ONE
    // partition, and the scan stage is where the explode AND the
    // map-side partial aggregations of every downstream groupBy run —
    // the whole detector was a single-threaded pass (bench: 20 s wall
    // at 1.1 effective cores for corpus_lang_confusion). At 100 TB the
    // source is thousands of splits and the guard is false, so the
    // extra shuffle never fires where it would actually cost.
    val docsRaw = Tables(spark, dir).documents
    val docs =
      if (docsRaw.rdd.getNumPartitions
          < docsRaw.sparkSession.sparkContext.defaultParallelism)
        docsRaw.repartition(
          docsRaw.sparkSession.sparkContext.defaultParallelism,
          col("doc_id"))
      else docsRaw
    // r15: collapse token OCCURRENCES to per-doc (tok, cnt) counts
    // once, and derive every census (per-lang, per-token, grand) plus
    // the scoring join from the compact frame. The occurrence-level
    // sum Σ score equals the exact decimal Σ cnt·score, so the argmax
    // — the only hashed surface — is bit-identical and the oracle is
    // untouched; what changes is the join fan-out: the score probe
    // now carries one row per DISTINCT (doc, token) instead of one
    // per occurrence (bench: the confusion key read 51 task-s on the
    // occurrence stream). Eager-checkpointed: the frame feeds both
    // the model side and the scoring side of one action.
    val tokCnt = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val perLang = tokCnt.groupBy(col("lang").as("l"), col("tok"))
      .agg(sum(col("cnt")).as("c_lt"))
    val langTotals = perLang.groupBy(col("l")).agg(sum(col("c_lt")).as("c_l"))
    val tokTotals = tokCnt.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("c_t"))
    val grand = tokCnt.agg(sum(col("cnt")).as("c_all"))
    val scores = perLang.join(langTotals, "l").join(tokTotals, "tok")
      .crossJoin(broadcast(grand))
      .select(col("l"), col("tok"),
        round(log((col("c_lt").cast(DoubleType) / col("c_l"))
          / (col("c_t").cast(DoubleType) / col("c_all"))) + lit(1e-12), 9)
          .cast(DecimalType(18, 9)).as("score"))
    val docScores = tokCnt.join(scores, "tok")
      .groupBy(col("doc_id"), col("lang"), col("l"))
      .agg(sum(col("score") * col("cnt")).as("total"))
    val out = docScores.groupBy(col("doc_id"), col("lang"))
      .agg(max_by(col("l"), struct(col("total"), col("l"))).as("predicted"))
      .withColumn("correct", col("predicted") === col("lang"))
      .localCheckpoint(true)
    // out is materialized — the token-count intermediate's block set
    // can be released (callers order/aggregate the doc-sized memo)
    tokCnt.unpersist(false)
    out
  }

  /** LANGUAGE-ID CONFUSION MATRIX — the detector-quality census over
    * [[textLangId]]'s per-doc argmax: declared corpus language
    * (rows) × detected language (columns, as grid rows), the table a
    * pipeline owner reads before trusting the detector for routing or
    * filtering — the diagonal is agreement, off-diagonal cells name
    * exactly WHICH language pairs the n-gram vote confuses. On this
    * synthetic corpus (uniform token distribution) the matrix is
    * near-uniform by design — the key asserts the evaluation
    * PIPELINE, the same contract as `text_lang_id` itself. Marginal
    * cost over the detector: one bounded (lang × lang) agg. */
  def corpusLangConfusion(spark: SparkSession, dir: String): DataFrame =
    textLangId(spark, dir)
      .groupBy(col("lang").as("lang_true"),
        col("predicted").as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_true"), col("lang_pred"))

  /** Document fingerprint: least [[md5Hash60]] over trigram shingles
    * (the winnowing/MinHash k=1 fingerprint) — DuckDB-oracled since
    * round 4. Identical-content docs get identical fingerprints. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    shingles(spark, dir)
      .groupBy(col("doc_id"))
      .agg(min(md5Hash60(col("shingle"))).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** PII scrubbing, the two standard moves in one pass over the event
    * log: PSEUDONYMIZE the stable identifier (salted sha256 → 16-hex
    * surrogate; joinable across tables that share the salt but not
    * reversible to the raw id) and REDACT free-text payload (digit runs
    * in the props JSON → a <NUM> placeholder — the same regexp shape
    * masks phones/SSNs/card numbers on a real corpus). Pure map-side
    * narrow transforms: no shuffle, codegen'd end to end, linear at
    * any scale. */
  def textRedactPii(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_id"),
        substring(sha2(concat(lit("graft-pepper:"),
          col("user_id").cast("string")), 256), 1, 16).as("pseudo_uid"),
        col("event_type"),
        regexp_replace(col("props"), "[0-9]+", "<NUM>")
          .as("props_redacted"))
      .orderBy(col("event_id"))

  /** Stratified deterministic sampling: ~20% of documents per language
    * stratum. The sampling key is md5 of the doc id (identical hex in
    * any engine) so the sample is reproducible and unbiased by id
    * order; the per-stratum quota is integer arithmetic (n*2 div 10).
    * One window shuffle keyed by the stratum; at 100 TB the same plan
    * holds (count + row_number over lang partitions), and a heavy
    * stratum never concentrates on one task more than its share. */
  /** Training-mix construction: sample each SOURCE at its own rate —
    * the dataset-weighting step every pretraining pipeline runs
    * (upsample curated sources, downsample crawl). Rates are permille
    * per source (here derived from the source index: 1000/500/250/125
    * by `idx mod 4` — a stand-in for a curated weight table, which at
    * scale is a broadcast dim); membership is the engine-neutral
    * `md5Hash60("graft-mix:" + doc_id) mod 1000 < rate` predicate, so
    * the sample is reproducible run-to-run, engine-independent, and
    * DuckDB-oracled — no RNG, no TABLESAMPLE drift. One narrow scan,
    * no shuffle: the filter runs map-side at any scale. */
  def corpusMixWeighted(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("rate_permille",
        expr("CASE CAST(substring(source, 4) AS INT) % 4 " +
          "WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250 " +
          "ELSE 125 END"))
      .filter(md5Hash60(concat(lit("graft-mix:"),
        col("doc_id").cast("string"))) % 1000 < col("rate_permille"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("rate_permille"))
      .orderBy(col("doc_id"))

  /** TEMPERATURE-SCALED mixture weights — the multilingual-training
    * upsampling knob (weight ∝ n^(1/T); T=2 here, the common choice):
    * small sources get boosted relative to proportional sampling, big
    * sources damped, so the mix stops being dominated by whichever
    * crawl is largest. All-integer: w_i = isqrt(n_i·1e12) = floor of
    * 1e6·√n_i, where isqrt is floor(sqrt(double)) CORRECTED by one
    * ±1 step against the exact integer square — double rounding can
    * be off by at most one ulp at these magnitudes, so the corrected
    * value is engine-neutral exact. Output per source: the T=2 and
    * T=1 (proportional) permille allocations side by side — the
    * delta IS the upsampling decision. One grouped count + one
    * 1-row total cross join. */
  def corpusMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    // x = n_docs·1e12 and the isqrt correction squares run in
    // DECIMAL(38,0): the BIGINT shape overflowed once a source passed
    // ~9.2M documents (x > 2^63), contradicting the 100 TB claim; the
    // ±1 correction stays safe because double sqrt is within 1 ulp of
    // exact far beyond these magnitudes (relative 2^-52 ≈ 0.00002
    // absolute at s0 = 1e11)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val isqrt =
      """CASE WHEN CAST(s0 + 1 AS DECIMAL(38,0)) * (s0 + 1) <= x
              THEN s0 + 1
              WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > x THEN s0 - 1
              ELSE s0 END"""
    val counts = Tables(spark, dir).documents
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("x", col("n_docs").cast(dec) * lit(1000000000000L))
      .withColumn("s0",
        expr("CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT)"))
      .withColumn("w_micro", expr(isqrt))
      .drop("x", "s0")
    val tot = counts.agg(sum(col("w_micro").cast(dec)).as("tw"),
      sum(col("n_docs").cast(dec)).as("tn"))
    counts.crossJoin(tot) // 1-row frame
      .withColumn("wk", expr("1000 * CAST(w_micro AS DECIMAL(38,0))"))
      .withColumn("nk", expr("1000 * CAST(n_docs AS DECIMAL(38,0))"))
      .select(col("source"), col("n_docs"), col("w_micro"),
        expr("""CAST((wk - ((wk % tw + tw) % tw)) div tw AS BIGINT)""")
          .as("permille_t2"),
        expr("""CAST((nk - ((nk % tn + tn) % tn)) div tn AS BIGINT)""")
          .as("permille_t1"))
      .orderBy(col("source"))
  }

  def corpusSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(concat(lit("graft-sample:"), col("doc_id").cast("string")))
          .as("skey"))
    val w = Window.partitionBy(col("lang"))
    keyed
      .withColumn("rn", row_number().over(
        w.orderBy(col("skey"), col("doc_id"))))
      .withColumn("quota", expr("(count(*) over " +
        "(partition by lang) * 2) div 10"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Deterministic sharded corpus shuffle — the reproducible-random
    * reorder every pre-training run does before writing shards
    * (document order must decorrelate from crawl/source order, and a
    * resumed or re-run job must produce the SAME order). Key = salted
    * md5 of the doc id: no RNG state, stable under re-execution,
    * insensitive to input partitioning. The first hex nibble assigns
    * one of 16 shards (hash-uniform), the within-shard rank orders by
    * the remaining key — windows are PER SHARD, so the pass is one
    * hash exchange + 16 parallel sorts at any scale (a global
    * training order, if wanted, is (shard_id, shard_rank) — no
    * single-partition window anywhere). The nibble→int map goes
    * through `instr` on the hex alphabet, identical on both
    * engines. */
  def corpusShuffleDeterministic(spark: SparkSession, dir: String)
      : DataFrame = {
    val keyed = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), col("source"),
        md5(concat(lit("graft-shuffle:"), col("doc_id").cast("string")))
          .as("skey"))
      .withColumn("shard_id",
        expr("instr('0123456789abcdef', substring(skey, 1, 1)) - 1")
          .cast("int"))
    keyed
      .withColumn("shard_rank", row_number().over(
        Window.partitionBy(col("shard_id"))
          .orderBy(col("skey"), col("doc_id"))))
      .select(col("shard_id"), col("shard_rank"), col("doc_id"),
        col("lang"), col("source"))
      .orderBy(col("shard_id"), col("shard_rank"))
  }

  /** Repetition scoring (the Gopher/C4 repetition filters): per doc,
    * the duplicate word-bigram fraction (1 − distinct/total) and the
    * top single bigram's share. High values flag boilerplate / spam /
    * generation loops for removal before training. Shape: explode →
    * two keyed aggregations, both map-side combinable; linear at any
    * corpus size (the bigram keyspace is per-doc, so no global hot
    * key exists — cf. the df-cap the CROSS-doc n-gram join needs). */
  def textRepetitionScore(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("gram"))
    grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      // exact-integer numerators, one division, then round — identical
      // doubles in both engines (the textQualityScore discipline)
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round((col("n_grams") - col("n_distinct")).cast(DoubleType)
          / col("n_grams"), 4).as("dup_frac"),
        round(col("top_c").cast(DoubleType) / col("n_grams"), 4)
          .as("top_frac"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination check: for every candidate training doc,
    * the fraction of its distinct token trigrams that also occur in the
    * held-out/benchmark corpus (here: the `src0` source — the standard
    * "n-gram overlap vs eval set" decontamination pass). Reuses the
    * memoized [[shingles]] table. Scale shape: the benchmark side is
    * tiny by construction (eval sets are MBs against a 100 TB corpus),
    * so its distinct-shingle set BROADCASTS and the probe is a
    * map-side hash lookup per candidate shingle — no shuffle of the
    * big side at all. */
  def textContaminationNgram(spark: SparkSession, dir: String): DataFrame = {
    val srcs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"))
    val sh = shingles(spark, dir)
    val bench = sh.join(srcs.filter(col("source") === "src0"), "doc_id")
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1L))
    sh.join(srcs.filter(col("source") =!= "src0"), "doc_id")
      .join(broadcast(bench), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast(DoubleType) / col("n_grams"), 4)
          .as("contam_frac"))
      .orderBy(col("doc_id"))
  }

  /** Bin capacity for [[corpusPackSequences]] (tokens per training
    * sequence; real pipelines use the model context length). */
  val PackCapacity = 256

  /** Sequence packing for training: concatenate each language shard's
    * documents in doc_id order and chunk the token stream into
    * fixed-capacity bins (documents may straddle a boundary — the
    * concat-then-chunk semantics of LLM pretraining loaders). A doc's
    * bin is where its first token lands: floor(tokens_before / cap).
    * Output: per (lang, bin) the doc count, token sum and bin span.
    * Scale shape: ONE window shuffle partitioned by the shard key —
    * packing parallelizes across shards, never globally; at 100 TB the
    * shard key is (lang, file-partition) and each task packs its own
    * token stream independently. */
  /** Count-based bigram language model estimation — the statistics
    * behind n-gram datamix scoring and classic LM pretraining
    * filters: every adjacent token pair, its corpus count, the prefix
    * total, and the conditional P(w2|w1) in EXACT integer permille
    * (`1000·c div c(w1)` — no float probabilities, so the table is
    * hash-identical on any engine). Reported: bigrams with count ≥ 3,
    * top-200 by the (count, w1, w2) total order. Bigram expansion is
    * narrow per-document array work; both aggregations are map-side-
    * combinable keyed counts, and at 100 TB the bigram key shuffles
    * exactly like any token-keyed census (first-byte range partition
    * for a hot vocabulary). */
  def corpusNgramLm(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables(spark, dir).documents
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2) // sequence(1,0) would descend
      .select(explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> struct(t[i-1] AS w1, t[i] AS w2))""")).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val counts = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val prefix = bi.groupBy(col("w1")).agg(count(lit(1)).as("prefix_n"))
    counts.join(prefix, "w1")
      .filter(col("c") >= 3)
      .select(col("w1"), col("w2"), col("c"), col("prefix_n"),
        expr("CAST(c * 1000 div prefix_n AS BIGINT)").as("p_permille"))
      .orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(200)
  }

  /** Per-document out-of-vocabulary rate against the corpus bigram LM
    * — the MODEL-BASED quality filter next to the surface heuristics
    * ([[textQualityScore]], [[textRepetitionScore]]): documents whose
    * bigrams rarely appear in the corpus-level top-[[corpusNgramLm]]
    * table read as atypical/noisy, the integer-exact stand-in for the
    * perplexity filter every training pipeline runs (log-prob needs
    * floats; the unseen-bigram rate ranks the same tail without
    * them). The LM table is 200 rows → broadcast; the per-document
    * side is one narrow bigram explode + one keyed agg, so the whole
    * filter is a single shuffle on doc_id at any corpus size. */
  def textOovRate(spark: SparkSession, dir: String): DataFrame = {
    val lm = corpusNgramLm(spark, dir)
      .select(col("w1"), col("w2"), lit(1).as("known"))
    val bi = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> struct(t[i-1] AS w1, t[i] AS w2))""")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    bi.join(broadcast(lm), Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), count(col("known")).as("n_known"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(1000 * (n_bigrams - n_known)) div n_bigrams")
          .as("oov_permille"))
      .orderBy(col("doc_id"))
  }

  /** Chunk window / stride (tokens) for [[corpusChunkOverlap]] —
    * 64/48 gives the standard 25% overlap so no sentence straddling a
    * boundary is lost to both chunks. */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** Overlapping fixed-size chunking — the RAG/embedding prep step
    * that [[corpusPackSequences]] (dense packing, no overlap) is not:
    * each document is cut into [[ChunkTokens]]-token windows starting
    * every [[ChunkStride]] tokens, so consecutive chunks share
    * `ChunkTokens − ChunkStride` tokens of context. Start offsets are
    * `0, S, 2S, … < n_tokens` (the trailing partial window is kept —
    * truncating it would drop tail text). Purely narrow per-document
    * array work (split → explode starts → slice): no shuffle at all
    * except the output ordering, embarrassingly parallel at any scale,
    * output rows ≈ corpus_tokens / stride. */
  def corpusChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1,
          lit(ChunkStride))).as("st"))
      .select(col("doc_id"),
        expr(s"CAST(st div $ChunkStride AS BIGINT)").as("chunk_id"),
        size(slice(col("t"), col("st") + 1, lit(ChunkTokens)))
          .cast("long").as("n_tokens"),
        array_join(slice(col("t"), col("st") + 1, lit(ChunkTokens)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Per-document CROSS-document window-duplication rate — the
    * window-granular cousin of suffix-array substring dedup (the
    * "deduplicating training data" signal): a [[ChunkTokens]]-token
    * window is duplicated when its fingerprint appears in ≥ 2 DISTINCT
    * documents (within-doc repeats are [[textRepetitionScore]]'s
    * business, not this key's), and each document reports the permille
    * of its windows shared with some other document. Fingerprint =
    * md5 of the window text, so the shuffle key is 32 hex chars
    * instead of a 64-token string; cost is two keyed aggs + one hash
    * join on the fingerprint — no pairwise comparison anywhere, the
    * same no-all-pairs discipline as the shingle dedup family. */
  def textWindowDupRate(spark: SparkSession, dir: String): DataFrame = {
    val chunks = corpusChunkOverlap(spark, dir)
      .select(col("doc_id"), md5(col("chunk_text")).as("fp"))
    val shared = chunks.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("fp"), lit(1).as("dup"))
    chunks.join(shared, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count(col("dup")).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("(1000 * n_dup_windows) div n_windows").as("dup_permille"))
      .orderBy(col("doc_id"))
  }

  /** Positional-shingle window for [[dedupSubstringExact]]: spans are
    * detected at [[SubstrShingle]]-token granularity, so the minimum
    * reportable duplicated span is SubstrShingle tokens (the k of the
    * suffix-array recipe's "spans ≥ k tokens"). */
  val SubstrShingle = 8

  /** Occurrence cap for a positional-shingle fingerprint before the
    * pair join: an fp occurring n times corpus-wide produces ≤ C(n,2)
    * position pairs, so one boilerplate 8-gram at 100 TB would go
    * quadratic without the cap; ultra-common 8-grams pair half the
    * corpus with the other half and carry no span-attribution signal
    * (they surface via [[textWindowDupRate]]'s rate instead). Far
    * above the corpus max so tested output is uncapped. */
  val SubstrMaxOcc = 64

  /** Maximal duplicated spans ≥ [[SubstrShingle]] tokens between
    * document PAIRS — the exact-substring member of the published LLM
    * dedup recipe (exact hash → MinHash near-dup → exact substring),
    * the one [[textWindowDupRate]]'s docstring calls its
    * coarse-grained cousin. Suffix arrays are the single-machine
    * construction; the shuffle-native equivalent is SORTED SHINGLE
    * RUNS: every k-token positional shingle is fingerprinted (md5, so
    * the join key is 32 hex chars, never token text), fingerprints
    * join position lists across documents, and a contiguous duplicated
    * region appears as a run of consecutive positions on one DIAGONAL
    * (pa − pb constant — the exact-match analogue of a dot-plot
    * alignment band). Runs compress via the rownum-difference grouping
    * trick (pa − row_number is constant within a run), and a run of r
    * consecutive shingle starts covers r + k − 1 tokens. Output: one
    * row per maximal span per (a_id < b_id) pair with both start
    * offsets (1-based token positions).
    *
    * 100 TB shape: one narrow scan → positional explode (rows =
    * corpus tokens), one occurrence-capped ([[SubstrMaxOcc]]) hash
    * join on the fingerprint, then per-(pair, diagonal) windows whose
    * partitions are bounded by document length. No pairwise document
    * comparison and no global sort besides the output order; the
    * fp join is the only super-linear step and the cap bounds it at
    * C(cap,2) rows per fingerprint. */
  def dedupSubstringExact(spark: SparkSession, dir: String): DataFrame =
    substringRuns(spark, dir)
      .select(col("a_id"), col("b_id"), col("a_start"), col("b_start"),
        col("span_tokens"))
      .orderBy(col("a_id"), col("b_id"), col("a_start"), col("b_start"))

  /** Shared maximal-run frame: (a_id, b_id, diag, a_start, b_start,
    * span_tokens), one row per maximal same-diagonal run of shared
    * positional shingles. */
  private def substringRuns(spark: SparkSession, dir: String): DataFrame = {
    val k = SubstrShingle
    val sh = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(when(size(col("t")) >= k,
        sequence(lit(1), size(col("t")) - (k - 1)))
        .otherwise(array())).as("pos"), col("t"))
      .select(col("doc_id"), col("pos"),
        md5(array_join(slice(col("t"), col("pos"), lit(k)), " "))
          .as("fp"))
    val capped = sh.join(
      sh.groupBy(col("fp")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") <= SubstrMaxOcc).select("fp"),
      Seq("fp"), "left_semi")
    val pairs = capped.select(col("fp"), col("doc_id").as("a_id"),
        col("pos").as("pa"))
      .join(capped.select(col("fp"), col("doc_id").as("b_id"),
        col("pos").as("pb")), "fp")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
      .orderBy(col("pa"))
    pairs
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
      .select(col("a_id"), col("b_id"), col("diag"), col("a_start"),
        (col("a_start") - col("diag")).as("b_start"),
        col("span_tokens"))
  }

  /** Per-document duplicated-TOKEN census over [[dedupSubstringExact]]'s
    * maximal spans — the number the substring-dedup paper actually
    * reports ("X% of tokens sit inside a duplicated span"), i.e. the
    * release-gate read of how much of each document is verbatim
    * copied somewhere else in the corpus. Both endpoints of every
    * pair-span contribute an interval; per document the intervals are
    * UNION-merged (overlapping spans from different partner documents
    * must not double-count tokens) via the classic sweep: an interval
    * opens a new covered group when its start exceeds the running max
    * end of everything before it. Output per affected document:
    * merged-span count, covered token count, total tokens, permille.
    * Cost on top of the run frame: one doc-keyed window + two keyed
    * aggs — interval-list-sized, corpus-scale-free. */
  def dedupSubstringCensus(spark: SparkSession, dir: String): DataFrame = {
    val runs = substringRuns(spark, dir)
    val iv = runs.select(col("a_id").as("doc_id"),
        col("a_start").as("st"),
        (col("a_start") + col("span_tokens") - 1).as("en"))
      .unionByName(runs.select(col("b_id").as("doc_id"),
        col("b_start").as("st"),
        (col("b_start") + col("span_tokens") - 1).as("en")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("st"), col("en"))
    val merged = iv
      .withColumn("prev_max", max(col("en")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when(col("st") > col("prev_max"), lit(1)).otherwise(lit(0)))
      .withColumn("grp", sum(col("opens")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("en")) - min(col("st")) + 1).as("cov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("cov")).as("dup_tokens"))
    merged.join(Tables(spark, dir).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens")),
      "doc_id")
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("n_tokens"),
        expr("(1000 * dup_tokens) div n_tokens").as("dup_permille"))
      .orderBy(col("doc_id"))
  }

  def corpusPackSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum - n_tok) div $PackCapacity"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  /** END-TO-END corpus preparation: the three curation stages a
    * training-data pipeline chains, composed into ONE declarative plan
    * — (1) per-language quality-band filter (drop the score tails),
    * (2) exact content dedup among the survivors (keep min doc_id per
    * sha256), (3) concat-then-chunk sequence packing per language.
    * Catalyst fuses the stages: the quality window, the dedup
    * aggregation and the packing window each reuse the one documents
    * scan, and nothing materializes between stages — the point of
    * expressing a pipeline as composed DataFrame operators instead of
    * three jobs with intermediate tables. Output: the packed-bin
    * manifest of the curated corpus. */
  def corpusPreparePipeline(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(filter(col("t"), t => array_contains(stopArr, t)))
          .cast(LongType).as("n_stop"))
      .withColumn("quality",
        round((col("n_tokens") - col("n_stop")).cast(DoubleType)
          / (col("n_tokens") + 1), 4))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality"), col("doc_id"))
    val banded = scored
      .withColumn("pr", round(percent_rank().over(w), 6))
      .filter(col("pr") >= 0.1 && col("pr") <= 0.9)
      .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"))
    val keep = banded.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = banded.join(keep, "doc_id")
    val w2 = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    deduped
      .withColumn("cum", sum(col("n_tokens")).over(w2))
      .withColumn("bin", expr(s"(cum - n_tokens) div $PackCapacity"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("lang"), col("bin"))
  }

  /** Quality-band corpus filter: keep documents whose (rational,
    * exact-arithmetic) quality score sits between the 10th and 90th
    * percentile of their language stratum — the standard "drop the
    * tails, keep the body" curation pass, done per stratum so one
    * language's score distribution never gates another's. percent_rank
    * is computed over a TOTAL order (score, doc_id) so the band edge is
    * deterministic. Same one-window-shuffle shape as the stratified
    * sampler. */
  def corpusQualityBand(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("lang"),
        size(col("t")).cast(LongType).as("n_tokens"),
        size(filter(col("t"), t => array_contains(stopArr, t)))
          .cast(LongType).as("n_stop"))
      .withColumn("quality",
        round((col("n_tokens") - col("n_stop")).cast(DoubleType)
          / (col("n_tokens") + 1), 4))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality"), col("doc_id"))
    scored.withColumn("pr", round(percent_rank().over(w), 6))
      .filter(col("pr") >= 0.1 && col("pr") <= 0.9)
      .select(col("doc_id"), col("lang"), col("quality"), col("pr"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Edit-distance verify cap: levenshtein is O(n·m) PER PAIR, so the
    * comparison runs on the first [[EditPrefix]] chars only — a
    * constant 128×128 worst-case cell count per candidate, the bound
    * that keeps the verify stage linear in candidates regardless of
    * document length. Prefix comparison is the standard cheap proxy
    * (near-dup docs share their opening); a production pipeline that
    * needs full-text certainty chains this with the Jaccard verify,
    * which is already exact over the whole shingle set. */
  val EditPrefix = 128

  /** Near-dup detection by EDIT DISTANCE — the character-level cousin
    * of the shingle-Jaccard verify, catching insert/delete edits that
    * token-set measures under-weigh. Candidate pairs are the SAME
    * capped MinHash-LSH buckets as [[dedupNearMinhash]] (never
    * all-pairs; the verify metric changes, the candidate discipline
    * does not), then each pair is scored with `levenshtein` over the
    * [[EditPrefix]]-char prefixes: exact distance, plus similarity in
    * integer permille of the longer prefix. Both engines ship the same
    * Wagner–Fischer levenshtein built-in, so the key is fully
    * DuckDB-oracled. */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    val (_, cand) = minhashSigCand(spark, dir)
    val docs = Tables(spark, dir).documents.select(col("doc_id"),
      substring(col("text"), 1, EditPrefix).as("p"),
      least(length(col("text")), lit(EditPrefix))
        .cast(LongType).as("plen"))
    cand
      .join(docs.select(col("doc_id").as("a_id"), col("p").as("pa"),
        col("plen").as("la")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("p").as("pb"),
        col("plen").as("lb")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("pa"), col("pb")).cast(LongType).as("edit_dist"),
        col("la"), col("lb"))
      .withColumn("edit_sim_permille",
        expr("1000 - (1000 * edit_dist) div greatest(la, lb)"))
      .select(col("a_id"), col("b_id"), col("edit_dist"),
        col("edit_sim_permille"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Length-band acceptance rates (permille) for the rejection
    * sampler: longer documents are kept at a higher rate — the usual
    * quality-proportional curation bias, made deterministic. */
  val RejectBands: Seq[(Long, Long)] = Seq(400L -> 900L, 200L -> 600L)
  val RejectBaseP = 250L

  /** Quality-proportional REJECTION SAMPLING — the curation pass that
    * keeps each document with probability proportional to a quality
    * proxy instead of a flat rate (the FineWeb/DCLM-style biased
    * sampling step). Acceptance is per-row deterministic: accept iff
    * `md5Hash60('graft-reject:' || doc_id) mod 1000 < accept_permille`
    * where the threshold comes from the document's length band
    * ([[RejectBands]]). No shuffle at all until the final presentation
    * sort — the accept decision is a scan-side filter, which is what
    * makes this the 100 TB-safe shape (a sampler that needs a global
    * pass to decide acceptance has already lost). Seeded-hash
    * acceptance also makes the sample REPRODUCIBLE across runs and
    * engines, which flat `rand()` sampling is not. */
  def corpusRejectionSample(spark: SparkSession, dir: String): DataFrame = {
    val bandExpr = RejectBands.foldRight(lit(RejectBaseP): Column) {
      case ((lo, p), e) => when(col("n_chars") >= lo, p).otherwise(e)
    }
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), col("n_chars"),
        bandExpr.cast(LongType).as("accept_permille"),
        (md5Hash60(concat(lit("graft-reject:"),
          col("doc_id").cast("string"))) % 1000).as("u"))
      .filter(col("u") < col("accept_permille"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("accept_permille"))
      .orderBy(col("doc_id"))
  }

  /** LM-based document QUALITY SCORE — the probability-weighted cousin
    * of [[textOovRate]] (which only asks membership): each document's
    * mean conditional bigram probability under the corpus LM
    * ([[corpusNgramLm]]'s top-200 table, broadcast), in integer
    * permille. A fluency proxy in the perplexity-filter role of the
    * classic pretraining pipelines, kept log-free so every value is
    * exact integer arithmetic both engines reproduce bit-identically:
    * score = Σ p_permille(known bigrams) div n_known (0 when no bigram
    * is known — the "model has no opinion" floor). One broadcast join
    * + one keyed agg; the LM table is constant-size, so the pass is a
    * single scan at any corpus scale. */
  def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    val lm = corpusNgramLm(spark, dir)
      .select(col("w1"), col("w2"), col("p_permille"))
    val bi = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> struct(t[i-1] AS w1, t[i] AS w2))""")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    bi.join(broadcast(lm), Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("p_permille")).as("n_known"),
        coalesce(sum(col("p_permille")), lit(0L)).as("p_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("n_known"),
        when(col("n_known") === 0L, 0L)
          .otherwise(expr("p_sum div n_known")).as("lm_score_permille"))
      .orderBy(col("doc_id"))
  }

  /** N-GRAM NOVELTY per document — what fraction of a doc's distinct
    * 3-shingles appear here FIRST (no earlier doc_id carries them)?
    * The streaming-ingest view of duplication: a crawl snapshot's
    * marginal contribution to the corpus, read per document. First
    * occurrence = `min(doc_id)` per shingle (one keyed agg over the
    * shared shingle frame), joined back and compared — novelty is
    * then an exact integer permille. Both aggs key on the shingle /
    * doc hash keys the dedup family already shuffles on; nothing is
    * pairwise. */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    val first = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(1000 * n_novel) div n_shingles").as("novelty_permille"))
      .orderBy(col("doc_id"))
  }

  /** Max tolerated benchmark-overlap permille before a document is
    * dropped by the decontamination filter. */
  val ContamMaxPermille = 500L

  /** DECONTAMINATION FILTER CENSUS — the action [[textContaminationNgram]]
    * only measures: drop every candidate document whose benchmark
    * (src0) shingle overlap exceeds [[ContamMaxPermille]], and report
    * per source what survived (docs and characters kept/removed — the
    * token-budget ledger a pretraining run reads before mixing).
    * Documents too short to shingle carry no overlap evidence and are
    * KEPT (left join, null-safe), matching how production decontam
    * treats un-fingerprint-able rows. Same bounded shapes as the
    * measurement pass: the benchmark shingle set is broadcast, the
    * verdict is one keyed agg per doc, the census one more per
    * source. */
  def corpusDecontamFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val contam = textContaminationNgram(spark, dir)
      .select(col("doc_id"),
        expr("(1000 * n_hit) div n_grams").as("contam_permille"))
    docs.join(contam, Seq("doc_id"), "left")
      .withColumn("removed",
        coalesce(col("contam_permille"), lit(0L)) > ContamMaxPermille)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("removed"), col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .orderBy(col("source"))
  }

  /** Merge rounds for [[corpusBpeMerges]] — bounded so the oracle can
    * unroll the same chain. */
  val BpeRounds = 6

  /** BPE TOKENIZER TRAINING — the merge-pair selection loop between
    * the vocab census ([[textVocabZipf]]) and the training mix: K
    * rounds of "count adjacent symbol pairs weighted by word
    * frequency, merge the most frequent pair everywhere" over the
    * character-symbolized WORD-FREQUENCY table (classic BPE trains on
    * the word dict, so per-round cost is O(vocab), independent of
    * corpus volume — the pair stats themselves come from ONE corpus
    * pass up front, the 100 TB shape). Symbolizations are '|'-joined
    * strings; the merge is applied with a greedy LEFT-TO-RIGHT fold
    * (`aggregate` HOF: if the accumulated string ends with symbol `x`
    * and the next symbol is `y`, fuse — exactly BPE's non-overlapping
    * scan, so "aaa" under (a,a) becomes [aa, a]). Everything is
    * exact-integer / string: the winner per round is (count DESC, x,
    * y) — engine-neutral — and the oracle replays the identical K
    * rounds with DuckDB's list_reduce. One eager checkpoint per round
    * bounds the plan (vocab-sized frames). Output = the merge table a
    * tokenizer build emits: round, pair, fused symbol, pair count. */
  def corpusBpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeTrainedCached(spark, dir)._1

  /** Memoized BPE training artifacts per (session, dir): the merge
    * table AND the fully-merged symbolization of every trainable word
    * — the trainer's final loop state, which IS the encoder lookup
    * table ("tokenize word w" = the symbol list the K merges leave
    * behind). `corpus_bpe_merges` reads the first, `corpus_bpe_encode`
    * the second; training runs once per (session, dir). synchronized:
    * the Sources.materialize rule. */
  private val bpeCache = scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private def bpeTrainedCached(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = bpeCache.synchronized {
    bpeCache.getOrElseUpdate((spark, dir), trainBpe(spark, dir))
  }

  private def trainBpe(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    var words = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"),
        expr("""array_join(transform(sequence(1, length(w)),
                  i -> substring(w, i, 1)), '|')""").as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.Buffer.empty[DataFrame]
    val retired = scala.collection.mutable.Buffer.empty[DataFrame]
    for (r <- 1 to BpeRounds) {
      val prs = words
        .filter(expr("size(split(syms, '\\\\|')) >= 2"))
        .select(col("wc"), expr(
          """explode(transform(
               sequence(1, size(split(syms, '\\|')) - 1),
               i -> struct(element_at(split(syms, '\\|'), i) AS x,
                           element_at(split(syms, '\\|'), i + 1) AS y)))
          """).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("wc")).as("cnt"))
      val top = prs
        .agg(min(struct((-col("cnt")).as("nc"), col("x"), col("y")))
          .as("m"))
        .select(lit(r).as("round"), col("m.x").as("x"),
          col("m.y").as("y"), (-col("m.nc")).as("cnt"))
        .localCheckpoint(true)
      merges += top
      val next = words.crossJoin(broadcast(top.select("x", "y")))
        .select(col("w"), col("wc"), expr(
          """aggregate(
               slice(split(syms, '\\|'), 2, size(split(syms, '\\|')) - 1),
               element_at(split(syms, '\\|'), 1),
               (acc, s) -> CASE
                 WHEN (acc = x OR endswith(acc, concat('|', x))) AND s = y
                 THEN concat(substring(acc, 1, length(acc) - length(x)),
                             x, y)
                 ELSE concat(acc, '|', s) END)""").as("syms"))
        .localCheckpoint(true)
      retired += words
      words = next
    }
    val out = merges.reduce(_ unionByName _)
      .select(col("round"), col("x").as("left_sym"),
        col("y").as("right_sym"),
        concat(col("x"), col("y")).as("merged"),
        col("cnt").as("pair_count"))
      .orderBy(col("round")).localCheckpoint(true)
    retired.foreach(_.unpersist(false))
    merges.foreach(_.unpersist(false))
    (out, words) // words = final symbolization, kept as the encoder
  }

  /** Vocab size cap for [[corpusBpeVocab]]. */
  val BpeVocabTopK = 50

  /** Unroll bound for [[corpusUnigramPrune]]'s per-word Viterbi DP —
    * words longer than this are excluded from unigram training (the
    * same boundedness convention as [[BpeRounds]]; at 100 TB the
    * excluded tail is the pathological-token residue a tokenizer
    * trainer drops anyway). */
  val UnigramMaxWordLen = 12

  /** Longest candidate piece in the unigram seed vocabulary. */
  val UnigramMaxPieceLen = 4

  /** Multi-char seed pieces admitted (by weighted substring frequency)
    * before the EM/prune pass; single chars are always seeded so every
    * word stays segmentable. */
  val UnigramSeedTopK = 120

  /** Multi-char pieces kept by the prune step (by Viterbi usage). */
  val UnigramKeepTopK = 60

  /** UNIGRAM-LM TOKENIZER TRAINER (SentencePiece-style), one hard-EM
    * round + prune — the OTHER tokenizer family a data team compares
    * against the BPE loop ([[corpusBpeMerges]]): instead of greedy
    * merges, a SEED vocabulary is scored as a unigram language model
    * and pruned to the pieces the corpus actually uses.
    *
    *  1. Seed: every ≤[[UnigramMaxPieceLen]]-char substring of the
    *     word-frequency table, top-[[UnigramSeedTopK]] multi-char
    *     pieces by weighted occurrence count, plus ALL single chars
    *     (coverage guarantee — every word remains segmentable).
    *  2. Piece cost = −ln(freq/total) through the 9dp
    *     round-then-decimal idiom, scaled to EXACT nano units, so
    *     Viterbi cost comparisons are BIGINT and engine-neutral.
    *     (Transcendental provenance, r12 audit: distinct ln inputs =
    *     seed vocab ≈ [[UnigramSeedTopK]] + singles; 9dp is the tight
    *     quantum — P ≈ 4e-6 per piece of a libm boundary flip, ~2e-3
    *     corpus-wide, and a flipped nano cost must ALSO change a
    *     Viterbi argmin to surface. Accepted: coarsening the quantum
    *     would perturb segmentations for marginal risk reduction.)
    *  3. E-step (hard EM, the Viterbi-EM variant of the published
    *     forward-backward trainer): per word, the min-cost
    *     segmentation by dynamic programming over character
    *     positions, unrolled to [[UnigramMaxWordLen]] with
    *     deterministic (cost, len, piece) tie-breaks; usage counts
    *     weight each piece by word frequency.
    *  4. Prune: keep the top-[[UnigramKeepTopK]] multi-char pieces by
    *     (usage DESC, piece); single chars always survive — exactly
    *     the trainer's drop-lowest-contribution step.
    *
    * Scale shape: the corpus collapses to the word-frequency table in
    * one pass (the [[corpusBpeMerges]] argument); everything after is
    * vocab-sized — candidate explode ≤ L·P rows per word, DP frames
    * one row per (word, position), all joins keyed on the word. The
    * seed is constant-size, so the DP join frames never exceed
    * vocab × [[UnigramMaxPieceLen]] rows per position. */
  def corpusUnigramPrune(spark: SparkSession, dir: String): DataFrame = {
    val L = UnigramMaxWordLen
    val P = UnigramMaxPieceLen
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val words = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike(s"^[a-z]{1,$L}$$"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .localCheckpoint(true)
    val cand = words
      .select(col("w"), col("wc"),
        explode(expr("sequence(1, length(w))")).as("i"))
      .select(col("w"), col("wc"), col("i"),
        explode(expr(s"sequence(1, $P)")).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("w")))
      .select(col("w"), col("wc"), col("i"), col("l"),
        expr("substring(w, i, l)").as("piece"))
    val freq = cand.groupBy(col("piece")).agg(sum(col("wc")).as("freq"))
    val seed = freq.filter(length(col("piece")) === 1)
      .unionByName(freq.filter(length(col("piece")) > 1)
        .orderBy(col("freq").desc, col("piece"))
        .limit(UnigramSeedTopK))
    val tot = seed.agg(sum(col("freq")).as("tot"))
    val costed = seed.crossJoin(broadcast(tot))
      .select(col("piece"), col("freq"),
        ((-round(log(col("freq").cast(DoubleType) / col("tot"))
          + lit(1e-12), 9)).cast(dec) * lit(1000000000L))
          .cast(LongType).as("cost_nano"))
      .localCheckpoint(true)
    // Viterbi DP, r15 shape: the whole per-word DP runs as ONE fold
    // expression over the word's character positions instead of the
    // r14 per-position frame loop (L rounds × 4 union arms × a keyed
    // agg + eager checkpoint each, plus L backpointer join levels —
    // 126 driver jobs of pure scheduler/planning latency on
    // vocab-sized frames). The piece costs ride a broadcast 1-row map
    // (seed-vocab-sized — constant, like the centroid codebooks);
    // each word evaluates exactly the same recurrence with the same
    // (cost, l, piece) struct-min tie-break, so best paths — and the
    // usage census the output is built from — are value-identical,
    // and the oracle's unrolled DP CTEs are untouched. Per-word work
    // is ≤ L·P map lookups; corpus volume only enters through the
    // word-frequency weights, as before (guide §1.2: fix the job
    // train, the per-task work was never the cost here).
    val cmapRow = costed
      .agg(map_from_entries(collect_list(
        struct(col("piece"), col("cost_nano")))).as("cmap"))
    val states =
      s"""aggregate(
            sequence(1, length(w)),
            array(struct(0L AS c, 0 AS bl, '' AS bp)),
            (acc, p) -> concat(acc, array(
              array_min(filter(
                transform(sequence(1, least($P, p)), l ->
                  CASE WHEN element_at(cmap, substring(w, p-l+1, l))
                            IS NOT NULL
                       THEN struct(
                         element_at(acc, p-l+1).c
                           + element_at(cmap, substring(w, p-l+1, l))
                           AS c,
                         l AS bl,
                         substring(w, p-l+1, l) AS bp)
                  END),
                x -> x IS NOT NULL)))))"""
    val pathExpr =
      s"""aggregate(
            sequence(1, $L),
            struct(length(w) AS pos,
                   CAST(array() AS array<string>) AS path),
            (s, i) -> CASE WHEN s.pos > 0
              THEN struct(
                s.pos - element_at(st, s.pos + 1).bl AS pos,
                concat(s.path, array(element_at(st, s.pos + 1).bp))
                  AS path)
              ELSE s END,
            s -> s.path)"""
    val usage = words.crossJoin(broadcast(cmapRow))
      .select(col("w"), col("wc"), expr(states).as("st"))
      .select(col("wc"), explode(expr(pathExpr)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("usage"))
    val out = costed.select(col("piece"), col("freq").as("freq_w"))
      .join(usage, Seq("piece"), "left")
      .select(col("piece"), length(col("piece")).as("piece_len"),
        col("freq_w"), coalesce(col("usage"), lit(0L)).as("usage"))
    val rk = out.filter(col("piece_len") > 1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("usage").desc, col("piece"))))
      .select(col("piece"), col("rn"))
    out.join(rk, Seq("piece"), "left")
      .select(col("piece"), col("piece_len"), col("freq_w"),
        col("usage"),
        (col("piece_len") === 1 ||
          col("rn") <= UnigramKeepTopK).as("kept"))
      .orderBy(col("usage").desc, col("piece"))
  }

  /** TRAINED-VOCAB CENSUS — the artifact between training and encode
    * that a tokenizer build actually ships: every symbol the merge
    * table leaves in the corpus symbolization, with its occurrence
    * count weighted by word frequency (= how often the encoder will
    * emit that token). Top-[[BpeVocabTopK]] by (count DESC, symbol) —
    * multi-char rows are exactly the [[BpeRounds]] merge products that
    * earned their slot, the long singleton tail stays out of the
    * output. One explode + keyed agg over the vocab-sized trained
    * dict — corpus volume only enters through the word counts the
    * trainer already aggregated. */
  def corpusBpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeTrainedCached(spark, dir)._2
      .select(col("wc"),
        explode(split(col("syms"), "\\|")).as("sym"))
      .groupBy(col("sym"))
      .agg(sum(col("wc")).as("n_occurrences"),
        count(lit(1)).as("n_words"))
      .select(col("sym"), length(col("sym")).as("sym_len"),
        col("n_occurrences"), col("n_words"))
      .orderBy(col("n_occurrences").desc, col("sym"))
      .limit(BpeVocabTopK)

  /** BPE ENCODE — the apply step that closes the tokenizer loop: run
    * the corpus back through the merge table [[corpusBpeMerges]]
    * trained. The trainer's final word-dict state already holds each
    * trainable word's post-merge symbol list (encoding is
    * deterministic per word — BPE's whole point), so encoding a
    * 100 TB corpus is a broadcast-sized VOCAB JOIN, not a per-token
    * fold: per document, count whitespace tokens, join the
    * lowercase-alpha ones against the encoded vocab, and charge
    * non-trainable tokens one token each (the OOV convention). Output
    * = per-source token census: documents, words, BPE tokens, and the
    * compression ratio denominator a training-mix planner reads
    * (chars per token ≈ how far the vocab stretches the byte budget). */
  def corpusBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val vocab = bpeTrainedCached(spark, dir)._2
      .select(col("w"),
        expr("size(split(syms, '\\\\|'))").cast("long").as("n_sym"))
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(when(col("n_sym").isNotNull, lit(1)).otherwise(0L))
          .as("n_encodable"),
        sum(coalesce(col("n_sym"), lit(1L))).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .orderBy(col("source"))
  }

  /** TOKENIZER FERTILITY BY LANGUAGE — the per-language eval every
    * multilingual tokenizer report leads with: tokens emitted per
    * whitespace word (fertility) and characters covered per token,
    * both exact milli ratios over the SAME trained BPE vocab
    * [[corpusBpeEncode]] applies per source. A language whose
    * fertility runs high is being fragmented by the vocab — the
    * signal that triggers retraining with rebalanced data. One word
    * explode + a broadcast vocab join + a lang-keyed agg. */
  def corpusFertilityLang(spark: SparkSession, dir: String): DataFrame = {
    val vocab = bpeTrainedCached(spark, dir)._2
      .select(col("w"),
        expr("size(split(syms, '\\\\|'))").cast("long").as("n_sym"))
    Tables(spark, dir).documents
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sym"), lit(1L))).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        expr("(1000 * n_tokens) div n_words").as("fertility_milli"),
        expr("(1000 * n_chars) div n_tokens")
          .as("chars_per_token_milli"))
      .orderBy(col("lang"))
  }

  /** Context length for [[corpusTruncationWaste]] — sized so this
    * corpus's 30-60-word docs land on BOTH sides (some truncate, some
    * pad). Shared with the oracle. */
  val TruncContextLen = 32L

  /** TRUNCATION/PADDING WASTE census — the motivation table for
    * sequence packing ([[corpusPackSequences]]' "why" number): under
    * the naive one-document-per-sequence loader at context length
    * [[TruncContextLen]], per source: docs truncated, tokens lost past
    * the context, pad tokens burned on short docs, and the combined
    * waste as a permille of the total sequence budget (n_docs·L).
    * One map-side token count + one keyed agg. */
  def corpusTruncationWaste(spark: SparkSession, dir: String): DataFrame = {
    val L = TruncContextLen
    Tables(spark, dir).documents
      .select(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("n_tok") > L, 1L).otherwise(0L))
          .as("n_trunc_docs"),
        sum(greatest(col("n_tok") - L, lit(0L))).as("tokens_lost"),
        sum(greatest(lit(L) - col("n_tok"), lit(0L))).as("pad_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_trunc_docs"), col("tokens_lost"), col("pad_tokens"),
        expr(s"(1000 * (tokens_lost + pad_tokens)) div (n_docs * $L)")
          .as("waste_permille"))
      .orderBy(col("source"))
  }

  /** THRESHOLD SWEEP for the near-dup detector — the tuning curve a
    * dedup owner reads before fixing the Jaccard cut ([[embedAnnIvf]]'s
    * `embed_ann_tuning` counterpart for text): over the SAME bounded
    * LSH candidate slice, pair and member-doc counts at five exact
    * integer-milli thresholds. The exact-overlap frame computes once
    * (checkpointed) and the five cuts read it — marginal cost five
    * tiny aggs. Zero-intersection candidates can never pass any
    * threshold here, so the inner-join overlap is value-identical to
    * the detector's left join. */
  def dedupMinhashSweep(spark: SparkSession, dir: String): DataFrame = {
    val (_, cand) = minhashSigCand(spark, dir)
    val j = exactOverlap(shingles(spark, dir), cand)
      .select(col("a_id"), col("b_id"),
        expr("(1000 * inter) div (na + nb - inter)").as("j_milli"))
      .localCheckpoint(true)
    Seq(300L, 400L, 500L, 600L, 700L).map { t =>
      val p = j.filter(col("j_milli") >= t)
      val docs = p.select(col("a_id").as("d"))
        .unionByName(p.select(col("b_id").as("d"))).distinct()
      p.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
        .select(lit(t).as("threshold_milli"), col("n_pairs"),
          col("n_docs"))
    }.reduce(_ unionByName _).orderBy(col("threshold_milli"))
  }

  /** CROSS-SOURCE duplication census — which sources copy from each
    * other: the verified near-dup pairs from [[dedupNearMinhash]]
    * (same memoized signature/candidate frames) grouped by the
    * canonicalized source pair. A hot off-diagonal cell is a
    * mirror/scrape relationship the mix planner should know about
    * before weighting sources as independent; the diagonal is
    * within-source redundancy. Marginal cost over the dedup key: two
    * doc_id-keyed source joins + one census agg on a ≤S² key space. */
  def corpusSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"))
    dedupNearMinhash(spark, dir)
      .join(src.select(col("doc_id").as("a_id"),
        col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"),
        col("source").as("sb")), "b_id")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within_source", col("src_a") === col("src_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** NEAR-DUP RATE BY SOURCE — the dedup-observability report a
    * pipeline owner reads after the MinHash pass: per source, how many
    * documents sit in at least one verified near-duplicate pair
    * ("which crawl is dirtiest"), as an exact permille. Rides the
    * memoized [[dedupNearMinhash]] pair frame; marginal cost is one
    * distinct over the pair ids + a doc-keyed left join + one source
    * agg. (Exact-hash dup rate is the degenerate sibling here — this
    * corpus has no byte-identical docs, [[dedupExact]] documents
    * that — so the rate that MEANS something is the near-dup one.) */
  def dedupSourceRate(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"))
    val near = dedupNearMinhash(spark, dir)
    val nearIds = near.select(col("a_id").as("doc_id"))
      .unionByName(near.select(col("b_id").as("doc_id"))).distinct()
    src.join(nearIds.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_near_docs"))
      .select(col("source"), col("n_docs"), col("n_near_docs"),
        expr("(1000 * n_near_docs) div n_docs").as("near_permille"))
      .orderBy(col("source"))
  }

  /** CROSS-SOURCE NEAR-DUP MATRIX — which sources copy from which:
    * the verified (Jaccard ≥ 0.5) near-dup pairs of
    * [[dedupNearMinhash]] bucketed by their endpoints' source pair
    * (unordered — least/greatest normalization so each cell appears
    * once), with each cell's exact permille share of all verified
    * pairs. The diagonal is within-source duplication (boilerplate);
    * off-diagonal mass is cross-source contamination — the table a
    * corpus owner reads before deciding WHICH source to drop. Rides
    * the memoized verified-pair frame: marginal cost is two broadcast
    * source lookups + one catalog²-sized agg. */
  def dedupCrossSourceMatrix(spark: SparkSession,
      dir: String): DataFrame = {
    val src = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"))
    val pairs = dedupNearMinhash(spark, dir)
      .select(col("a_id"), col("b_id"))
      .join(src.select(col("doc_id").as("a_id"),
        col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"),
        col("source").as("sb")), "b_id")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    val m = pairs.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val t = m.agg(sum(col("n_pairs")).as("tot"))
    m.crossJoin(broadcast(t))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        expr("(1000 * n_pairs) div tot").as("share_permille"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MIX GOVERNANCE REPORT — the (source, lang) token-share table a
    * pretraining-mix owner signs off on before a run: per cell, doc
    * and token counts, the exact permille share of the corpus token
    * budget, and an over-cap flag against the standard
    * no-single-slice-dominates rule (300‰ here — the knob; this
    * uniform synthetic mix trips nothing, by construction — the flag
    * column is the contract, the threshold the config). One map-side
    * token count + one keyed agg + a 1-row broadcast total;
    * grid-sized output at any corpus scale. */
  def corpusMixReport(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables(spark, dir).documents
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    g.crossJoin(broadcast(g.agg(sum(col("n_tokens")).as("tot"))))
      .select(col("source"), col("lang"), col("n_docs"),
        col("n_tokens"),
        expr("(1000 * n_tokens) div tot").as("share_permille"))
      .withColumn("over_cap", col("share_permille") > 300L)
      .orderBy(col("source"), col("lang"))
  }

  /** Token-length HISTOGRAM per source in power-of-two buckets — the
    * sequence-length profile a packing/batching planner reads before
    * fixing a context budget (which sources are short-form, where the
    * truncation tail starts). Bucket = 2^⌊log₂ n⌋ via binary-string
    * length (exact integers — no float log at bucket boundaries, the
    * `graph_degree_histogram` idiom); one keyed agg, histogram-sized
    * output at any corpus scale. */
  def corpusTokenHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .select(col("source"),
        expr("shiftleft(1L, length(bin(n_tok)) - 1)").as("bucket_lo"))
      .groupBy(col("source"), col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("bucket_lo"))

  /** TRAIN/VAL SPLIT LEAKAGE audit — the check a pipeline must run
    * between dedup and training: near-duplicate pairs that STRADDLE a
    * train/validation split silently inflate eval scores (the val doc
    * is a near-copy of a train doc). Split = deterministic salted-hash
    * permille on doc_id (train < 900‰), pair classes censused over the
    * verified [[dedupNearMinhash]] pairs on a fixed 3-row spine
    * (train / val / leak) with the split doc counts alongside — the
    * `leak` row is the number the release gate reads. Same memoized
    * pair frames; marginal cost two id joins + a 3-key census. */
  def corpusSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val split = Tables(spark, dir).documents
      .select(col("doc_id"),
        when(md5Hash60(concat(lit("graft-split:"),
          col("doc_id").cast("string"))) % 1000 < 900, "train")
          .otherwise("val").as("split"))
    val census = dedupNearMinhash(spark, dir)
      .join(split.select(col("doc_id").as("a_id"),
        col("split").as("sa")), "a_id")
      .join(split.select(col("doc_id").as("b_id"),
        col("split").as("sb")), "b_id")
      .select(when(col("sa") === col("sb"), col("sa"))
        .otherwise("leak").as("pair_class"))
      .groupBy(col("pair_class")).agg(count(lit(1)).as("n_pairs"))
    val totals = split.groupBy(col("split")).agg(
      count(lit(1)).as("n_docs"))
    spark.range(1)
      .select(explode(array(lit("train"), lit("val"), lit("leak")))
        .as("pair_class"))
      .join(census, Seq("pair_class"), "left")
      .join(totals.withColumnRenamed("split", "pair_class"),
        Seq("pair_class"), "left")
      .select(col("pair_class"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("pair_class"))
  }

  /** Fixed retrieval query for the BM25 / hybrid-retrieval exhibits:
    * three mid-frequency corpus terms. Shared with the oracle SQL so
    * the two engines score the same query. */
  private[graft] val Bm25Query = Seq("spark", "join", "window")
  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  // Derived constants computed ONCE here and interpolated into both
  // the Spark literals and the oracle SQL (Scala's shortest-round-trip
  // toString re-parses to the identical double in DuckDB), so neither
  // engine re-derives k1+1 / 1−b with its own float fold.
  private[graft] val Bm25K1p1 = Bm25K1 + 1
  private[graft] val Bm25OneMinusB = 1 - Bm25B

  /** Per-document Okapi BM25 total for [[Bm25Query]] in exact micro
    * units — the lexical leg of retrieval. Per-term scores are
    * micro-rounded BEFORE the cross-term sum, so the ≤|Q|-term
    * addition is exact BIGINT and no float summation order exists for
    * the engines to disagree on. Shape: one corpus tokenize (doc
    * lengths + query-term tf), a |Q|-row df broadcast, a 2-row stats
    * broadcast — the only shuffle is the per-doc tf groupBy, so at
    * 100 TB the cost is the scan plus one keyed agg on doc_id.
    *
    * Transcendental provenance (r12 audit): the ln feeds a micro-
    * rounded per-row product; distinct ln inputs = distinct df values
    * of the ≤4 query terms, so exposure is ≤4 × P(2e-15 boundary hit
    * at the 1e-6 quantum) ≈ 2e-8. */
  private[graft] def bm25MicroOf(spark: SparkSession, dir: String)
      : DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n_docs"))
    val tf = toks.filter(col("tok").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "tok").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(log((col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf") * lit(Bm25K1p1))
          / (col("tf") + lit(Bm25K1) * (lit(Bm25OneMinusB)
              + lit(Bm25B) * col("dl") / col("avgdl")))
          * lit(1000000.0)).cast(LongType).as("s_micro"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s_micro")).as("bm25_micro"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** BM25 top-10 documents for the fixed query — the classic lexical
    * retrieval operator next to [[textTfidfTopk]]'s per-source census.
    * Global top-k via orderBy+limit = TakeOrdered (per-partition
    * bounded heaps merged on the driver, no global sort shuffle). */
  def textBm25Topk(spark: SparkSession, dir: String): DataFrame =
    bm25MicroOf(spark, dir)
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("bm25_micro"), col("n_terms_hit"))

  /** GOPHER-STYLE heuristic quality gate — the rule battery the
    * classic pretraining pipelines run before any model-based filter,
    * as a per-source census: token count in [25, 500], mean token
    * length in [3.9, 5.0] (exact micro via one integral division per
    * doc), short-token (≤ 2 chars) fraction ≤ 300‰, and ≥ 2 stopword
    * hits (the "real prose" signal). Every rule is exact integer
    * arithmetic on the whitespace tokens, so the verdicts replay
    * bit-for-bit; the census reports per-source per-rule failure
    * counts plus the all-rules pass rate — which rule is doing the
    * rejecting is the tuning read, not just how much survived. Scale:
    * per-doc map work + ONE source-keyed agg; nothing joins. */
  def corpusGopherFilters(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    val perDoc = Tables(spark, dir).documents
      .select(col("source"), split(col("text"), " ").as("t"))
      .select(col("source"),
        size(col("t")).cast(LongType).as("n_tok"),
        aggregate(transform(col("t"), x => length(x).cast(LongType)),
          lit(0L), (acc, x) => acc + x).as("sum_len"),
        size(filter(col("t"), x => length(x) <= 2))
          .cast(LongType).as("n_short"),
        size(filter(col("t"), x => array_contains(stopArr, x)))
          .cast(LongType).as("n_stop"))
      .select(col("source"), col("n_tok"),
        expr("CAST((1000000 * sum_len) div n_tok AS BIGINT)")
          .as("mtl_micro"),
        expr("CAST((1000 * n_short) div n_tok AS BIGINT)")
          .as("short_permille"),
        col("n_stop"))
      .select(col("source"),
        (col("n_tok") >= 25 && col("n_tok") <= 500).as("r_count"),
        (col("mtl_micro") >= 3900000L && col("mtl_micro") <= 5000000L)
          .as("r_mtl"),
        (col("short_permille") <= 300L).as("r_short"),
        (col("n_stop") >= 2L).as("r_stop"))
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("r_count"), 1L).otherwise(0L)).as("fail_count"),
        sum(when(!col("r_mtl"), 1L).otherwise(0L)).as("fail_mtl"),
        sum(when(!col("r_short"), 1L).otherwise(0L)).as("fail_short"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("fail_stop"),
        sum(when(col("r_count") && col("r_mtl") && col("r_short")
          && col("r_stop"), 1L).otherwise(0L)).as("n_pass"))
      .select(col("source"), col("n_docs"), col("fail_count"),
        col("fail_mtl"), col("fail_short"), col("fail_stop"),
        col("n_pass"),
        expr("CAST((1000 * n_pass) div n_docs AS BIGINT)")
          .as("pass_permille"))
      .orderBy(col("source"))
  }

  /** HAPAX RATIO — the share of vocabulary types seen exactly once
    * (and the token share they carry), per language: the classic
    * corpus-maturity read next to [[textVocabZipf]]'s rank curve — a
    * high hapax share means the vocabulary hasn't saturated (more
    * data still buys new types), and it is the denominator-side
    * sanity check before freezing a tokenizer's vocab size. One
    * (lang, token) keyed count then one lang-keyed census — both
    * map-side combinable, type-table-sized state. */
  def textHapaxRatio(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("n_types"), col("n_tokens"),
        col("n_hapax"),
        expr("CAST((1000 * n_hapax) div n_types AS BIGINT)")
          .as("hapax_type_permille"),
        expr("CAST((1000 * n_hapax) div n_tokens AS BIGINT)")
          .as("hapax_token_permille"))
      .orderBy(col("lang"))

  /** BEST-FIT SEQUENCE PACKING — first-fit-decreasing bin packing of
    * whole documents into [[PackCapacity]]-token training sequences,
    * per deterministic md5 shard: the packing planner that does NOT
    * split documents (cf. [[corpusPackSequences]]' concat-then-chunk,
    * which cuts documents at chunk boundaries — FFD trades a little
    * waste for intact attention spans, and this census is the
    * trade-off read: bins_ffd vs the ⌈Σtokens/C⌉ lower bound and the
    * waste permille). FFD is inherently sequential, so it runs
    * INSIDE each bounded shard: items sorted (tokens DESC, doc_id)
    * per shard, then one `aggregate` fold whose state is the bin-load
    * array — the same bounded-list discipline as the BPE trainer, and
    * the DuckDB replay is the same fold via `list_reduce`. At 100 TB
    * the 16-way hex shard becomes a longer prefix (shard count scales
    * with the corpus, per-shard state stays bounded); the packing
    * quality is per-shard FFD either way. Docs longer than C get a
    * bin of their own (no fit ever succeeds), overflowing honestly. */
  def corpusPackBestfit(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables(spark, dir).documents
      .select(col("doc_id"),
        md5(concat(lit("graft-shuffle:"), col("doc_id").cast("string")))
          .as("skey"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .withColumn("shard_id",
        expr("instr('0123456789abcdef', substring(skey, 1, 1)) - 1")
          .cast("int"))
    items
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sort_array(collect_list(struct((-col("n_tok")).as("neg"),
          col("doc_id").as("d")))).as("st"))
      .withColumn("ns", expr("transform(st, s -> -s.neg)"))
      .withColumn("bins", expr(
        s"""aggregate(ns, CAST(array() AS ARRAY<BIGINT>), (acc, x) ->
            CASE WHEN size(filter(acc, b -> b + x <= $PackCapacity)) > 0
            THEN transform(acc, (b, i) -> IF(i = element_at(
                filter(transform(acc, (b2, i2) ->
                         IF(b2 + x <= $PackCapacity, i2, -1)),
                       p -> p >= 0), 1), b + x, b))
            ELSE concat(acc, array(x)) END)"""))
      .select(col("shard_id"), col("n_docs"), col("total_tokens"),
        size(col("bins")).cast(LongType).as("bins_ffd"),
        expr(s"CAST((total_tokens + ${PackCapacity - 1})" +
          s" div $PackCapacity AS BIGINT)").as("bins_lb"),
        expr(s"""CAST((1000 * (CAST(size(bins) AS BIGINT)
                 * $PackCapacity - total_tokens))
                 div (CAST(size(bins) AS BIGINT) * $PackCapacity)
                 AS BIGINT)""").as("waste_permille"))
      .orderBy(col("shard_id"))
  }

  /** CHARACTER-CLASS PROFILE per source — the byte-level sanity read
    * a corpus owner runs before any tokenizer sees the data (binary
    * junk, digit floods, and whitespace pathologies all show up here
    * first): per source, total chars and the exact permille split
    * into lowercase letters / digits / spaces / other, each class
    * counted as length(text) − length(regexp_replace(text, class,
    * '')) so the four counts sum to the total by construction. One
    * scan → one catalog-sized agg; the regexes are anchored character
    * classes (linear scans, no backtracking). */
  def textCharClassProfile(spark: SparkSession, dir: String): DataFrame = {
    def cls(re: String): Column =
      sum((length(col("text")) -
        length(regexp_replace(col("text"), re, ""))).cast(LongType))
    Tables(spark, dir).documents
      .groupBy(col("source"))
      .agg(sum(length(col("text")).cast(LongType)).as("n_chars"),
        cls("[a-z]").as("letters"),
        cls("[0-9]").as("digits"),
        cls("[ ]").as("spaces"))
      .select(col("source"), col("n_chars"),
        expr("(1000 * letters) div n_chars").as("letters_permille"),
        expr("(1000 * digits) div n_chars").as("digits_permille"),
        expr("(1000 * spaces) div n_chars").as("spaces_permille"),
        expr("""(1000 * (n_chars - letters - digits - spaces))
                div n_chars""").as("other_permille"))
      .orderBy(col("source"))
  }

  /** LENGTH-INEQUALITY GINI per source — "is this source a uniform
    * slab or a head of monsters over a tail of stubs?", the
    * [[graft.ops.Stats.statsGiniLorenz]] read applied to document
    * lengths, computed ENTIRELY on the value-domain (source, n_chars)
    * cell frame: with cells ordered by value, tie-group average rank
    * R̄ = prevCum + (c+1)/2, so the classic G = Σ x·(2R̄ − n − 1) /
    * (n·Σx) becomes the all-integer Σ c·x·(2·prevCum + c − n) over
    * cells — `gini_permille` is one truncating division, no float,
    * no per-document rank. Cell windows are catalog × length-domain
    * bounded (the [[corpusLengthDeciles]] frame). */
  def corpusLengthGini(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = Tables(spark, dir).documents
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val wPrev = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = cells
      .withColumn("prev", coalesce(sum(col("c")).over(wPrev), lit(0L)))
    val ns = cells.groupBy(col("source"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(dec) * col("n_chars")).as("sx"))
    withCum.join(broadcast(ns), "source")
      .groupBy(col("source"), col("n"), col("sx"))
      .agg(sum(col("c").cast(dec) * col("n_chars")
        * (lit(2L) * col("prev") + col("c") - col("n"))).as("num"))
      .select(col("source"), col("n").as("n_docs"),
        expr("CAST(sx div n AS BIGINT)").as("mean_chars"),
        expr("CAST((1000 * num) div (n * sx) AS BIGINT)")
          .as("gini_permille"))
      .orderBy(col("source"))
  }

  /** VOCABULARY GROWTH CURVE (Heaps' law, measured) — distinct word
    * types seen in the first 10/25/50/100% of documents (doc_id
    * order, ids contiguous 0..n−1 in this corpus — asserted by spec):
    * the curve that sizes a tokenizer's vocab budget and says whether
    * more data still buys new types. NO ×4 re-scan: each token's
    * FIRST occurrence doc is one min-agg, then each sweep point is a
    * bounded census over the (token, first_doc) frame; prefix token
    * counts come from the per-doc length frame the same way. The
    * prefix cut is the integer cross-multiply doc_id·100 < pct·n. */
  def corpusVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val firstDoc = docs
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
    val lens = docs.select(col("doc_id"),
      size(col("t")).cast(LongType).as("len"))
    val n = docs.agg(count(lit(1)).as("n"))
    val pcts = Seq(10L, 25L, 50L, 100L)
    val vocab = firstDoc.crossJoin(broadcast(n))
      .select(col("fd"), col("n"),
        explode(expr(s"array(${pcts.mkString("L,")}L)")).as("pct"))
      .filter(col("fd") * 100L < col("pct") * col("n"))
      .groupBy(col("pct"), col("n")).agg(count(lit(1)).as("vocab"))
    val toks = lens.crossJoin(broadcast(n))
      .select(col("doc_id"), col("len"), col("n"),
        explode(expr(s"array(${pcts.mkString("L,")}L)")).as("pct"))
      .filter(col("doc_id") * 100L < col("pct") * col("n"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_tokens"))
    vocab.join(toks, "pct")
      .select(col("pct"), col("n_docs"), col("n_tokens"), col("vocab"))
      .orderBy(col("pct"))
  }

  /** LM-TABLE COVERAGE SWEEP — how much of the corpus bigram MASS a
    * top-k conditional table captures, for k ∈ {50, 100, 200}: the
    * sizing read behind [[corpusNgramLm]]'s fixed 200 (and behind
    * [[textOovRate]]'s broadcast assumption — a table that needs
    * k = 10⁶ rows to cover the mass stops being broadcastable). The
    * rank runs over the AGGREGATED vocab²-bounded pair-count frame
    * (the tolerated unpartitioned-window shape, same bound as
    * [[textVocabZipf]]'s vocabulary rank), ordered by the LM's own
    * (c desc, w1, w2) total order so "the top-k rows" here are
    * EXACTLY the k rows the LM table would keep. Coverage in exact
    * permille of total bigram occurrences. */
  def corpusLmCoverageSweep(spark: SparkSession,
      dir: String): DataFrame = {
    val c = Tables(spark, dir).documents
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> struct(t[i-1] AS w1, t[i] AS w2))""")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("w1"), col("w2"))
    val ranked = c.withColumn("rn", row_number().over(w))
    val n = c.agg(sum(col("c")).as("nb"))
    ranked
      .select(col("c"), col("rn"),
        explode(expr("array(50L, 100L, 200L)")).as("k"))
      .filter(col("rn") <= col("k"))
      .groupBy(col("k")).agg(sum(col("c")).as("covered"))
      .crossJoin(broadcast(n))
      .select(col("k"), col("covered"), col("nb").as("n_bigrams"),
        expr("(1000 * covered) div nb").as("coverage_permille"))
      .orderBy(col("k"))
  }

  /** PER-SOURCE LENGTH DECILES — the distribution profile a corpus
    * owner reads before choosing pack/truncation budgets per source:
    * boundary d = the percentile_disc(d/10) document length, i.e. the
    * smallest `n_chars` whose cumulative count reaches ⌈d·n/10⌉,
    * decided by the integer cross-multiply 10·cum ≥ d·n. The
    * cumulative window runs over the (source, n_chars) CELL frame —
    * value-domain × catalog bounded (length domain ~500 values, never
    * corpus rows), the [[graft.ops.Stats.statsPsiDrift]] histogram
    * discipline — and the ×9 decile explode multiplies only that
    * bounded frame. */
  def corpusLengthDeciles(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).documents
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cum", sum(col("c")).over(wCum))
    val ns = cells.groupBy(col("source")).agg(sum(col("c")).as("n"))
    cum.join(broadcast(ns), "source")
      .select(col("source"), col("n_chars"), col("cum"), col("n"),
        explode(sequence(lit(1L), lit(9L))).as("decile"))
      .filter(col("cum") * 10L >= col("decile") * col("n"))
      .groupBy(col("source"), col("decile"))
      .agg(min(col("n_chars")).as("boundary_chars"))
      .orderBy(col("source"), col("decile"))
  }

  /** PMI COLLOCATIONS — the top adjacent word pairs by pointwise
    * mutual information, the phrase-mining read next to
    * [[corpusNgramLm]]'s conditional table: PMI = log₂(c(x,y)·N /
    * (c(x)·c(y))), and since log₂ is monotone the ranking needs NO log
    * at all — `lift_ppm` = (10⁶·c(x,y)·N) div (c(x)·c(y)) is the exact
    * integer lift, bit-identical across engines where a float log's
    * last ULP could straddle the round. One bigram explode → ONE
    * (w1,w2) count agg (checkpointed: N, the prefix and the suffix
    * marginals all derive from it by vocab-sized re-aggs, so the
    * corpus is scanned once); min support 20 keeps the tail of
    * one-off pairs from dominating the lift order. Top-30 by
    * (lift_ppm, w1, w2) — fully tie-broken. */
  def textPmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir).documents
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> struct(t[i-1] AS w1, t[i] AS w2))""")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // vocab²-bounded; read by all four aggs
    val n = c.agg(sum(col("c")).as("nb"))
    val cx = c.groupBy(col("w1")).agg(sum(col("c")).as("cx"))
    val cy = c.groupBy(col("w2")).agg(sum(col("c")).as("cy"))
    c.filter(col("c") >= 20L)
      .join(cx, "w1").join(cy, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c"), col("cx"), col("cy"),
        expr("""CAST((1000000 * CAST(c AS DECIMAL(38,0)) * nb)
                div (CAST(cx AS DECIMAL(38,0)) * cy) AS BIGINT)""")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** CORPUS BIGRAM-LM SURPRISE per document — the perplexity-style
    * quality signal ("how predictable is this document under a model
    * of the corpus itself") that training-data pipelines rank and
    * filter by: train the maximum-likelihood bigram model on the whole
    * corpus (P(w₂|w₁) = c(w₁,w₂) / c(w₁·), both counts over the bigram
    * stream so the conditional is exactly normalized), then score each
    * document by its total and per-bigram negative log likelihood —
    * the genuine-log upgrade of [[textLmScore]]'s log-free permille
    * stand-in (full ML model, no top-200 truncation, real nats).
    * Determinism discipline = the BM25/Adamic-Adar convention: each
    * DISTINCT bigram's −ln P is micro-rounded ONCE
    * (`round(1e6·ln(c_w/c_b))`, an enumerable input domain — distinct
    * (c_w, c_b) count pairs, vocab²-bounded) and the per-doc totals
    * are exact BIGINT sums of those integers, so summation order can
    * never drift the hash. Cost: one bigram explode, two vocab-bounded
    * count aggs, one broadcast-size score join back onto the stream. */
  def textBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
           i -> struct(t[i-1] AS w1, t[i] AS w2))""")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(true) // read 3× (two count aggs + the score join)
    val cb = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_b"))
    val cw = bi.groupBy(col("w1")).agg(count(lit(1)).as("c_w"))
    val scores = cb.join(cw, "w1")
      .select(col("w1"), col("w2"),
        expr("""CAST(round(1000000 * ln(CAST(c_w AS DOUBLE) / c_b))
                AS BIGINT)""").as("nll_micro"))
    val out = bi.join(scores, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_micro")).as("nll_total_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_total_micro"),
        expr("nll_total_micro div n_bigrams").as("nll_avg_micro"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    bi.unpersist(false)
    out
  }
}
