package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * The scalar kernels (dot, norm, cosine) are sequential
  * `aggregate`/`zip_with` folds over the array — deterministic
  * summation order (bit-reproducible across engines and runs, which
  * the differential oracle relies on) and fully codegen'd; no UDFs.
  *
  * Scale path: [[lshBuckets]] assigns each vector to a
  * random-hyperplane sign bucket so the candidate join is
  * bucket-local: shuffle cost O(#vectors × signatureBytes) instead of
  * the quadratic cross join. The hyperplanes are pseudo-random but
  * deterministic (seeded from xxhash64 of (plane, dim)), so results
  * are stable across runs/executors — no Math.random at plan time.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as double — codegen'd kernel (bit-identical to the
    * sequential fold, see [[graft.functions.VectorExpressions]]).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  /** ‖v‖₂ as double. */
  def norm(v: Column): Column = graft.functions.VectorExpressions.l2norm(v)

  /** Cosine similarity in double precision, fused single-pass. */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorExpressions.cosine(a, b)

  /** The composable higher-order-function formulation (kept as the
    * reference semantics the codegen kernels are tested against).
    */
  def cosineFold(a: Column, b: Column): Column = {
    def dotF(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def normF(v: Column) = sqrt(aggregate(
      transform(v, p => p.cast("double") * p.cast("double")),
      lit(0.0), (acc, v2) => acc + v2))
    dotF(a, b) / (normF(a) * normF(b))
  }

  /** Exact brute-force top-k by cosine against a single query vector
    * (given as the row of `emb` with id == queryId). The query side
    * is a 1-row broadcast, so this is a map-only pass over the corpus
    * + a TopK (TakeOrderedAndProject) — no shuffle of the corpus.
    */
  def bruteForceTopK(
      emb: DataFrame, vecCol: String, idCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === lit(queryId))
      .select(col(vecCol).as("q_vec"))
    graft.ops.ScaleOps.fanOut(emb).where(col(idCol) =!= lit(queryId))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
      .select(col(idCol), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Maximal-marginal-relevance top-k (Carbonell & Goldstein 1998):
    * greedy diversity-aware selection — each step picks
    * argmax λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s), ties to
    * the smallest id. The curation use is sampling training data near
    * a topic WITHOUT collapsing onto its densest mode (pure top-k
    * returns k near-duplicates of the best hit; MMR spends the budget
    * across the neighborhood).
    *
    * Distributed shape: the greedy loop is inherently sequential in
    * k, so it runs as k DRIVER-scheduled map-only passes — each pass
    * scores the cached candidates against the selected vectors
    * INLINED as literal arrays (the s07 centroid move: no join, no
    * shuffle) and takes one TopK row. To bound expression growth
    * without paying a cache write per pick, the penalty is CHUNKED:
    * up to [[MmrFoldEvery]] recent picks stay inline, and when the
    * pending chain fills it folds into a cached running `max_sim`
    * column in one pass — so plan size is bounded by the fold width,
    * total expression work is O(k·FOLD·N) not O(k²·N), and the
    * vector column is re-materialized only ⌊k/FOLD⌋ times, not k
    * times (a per-pick re-cache of the vectors measurably DOUBLED
    * the query's wall time at bench scale — the fold amortizes it
    * away; for k ≤ FOLD no fold ever happens and the loop is pure
    * scoring passes over one cache). Selected state is k vectors on
    * the driver — bounded like IVF's trained centroids; interim
    * caches drop as soon as the next materializes, and everything
    * unpersists before returning. IEEE max is associative, so
    * greatest(max_sim, cos…) over the chunks is bit-identical to the
    * all-at-once max: the WHOLE greedy trajectory still hash-matches
    * SQL (s21) — argmax ties and all.
    *
    * @return (rank, vec_id, qsim, mmr) in selection order
    */
  // Fold cadence, set by measurement (round-10 A/B, sf0.1, idle JVM,
  // s21 shape k=10: a fold every 4 picks → 1.24 s median, 8 → 0.98 s,
  // 16/no-fold → 0.92 s with min 0.76 s): each fold is a count() +
  // cache swap whose fixed cost exceeds the inline-penalty expression
  // growth it removes until the pending chain is ~16 deep. 16 keeps
  // every k ≤ 16 query on the fold-free fast path while still
  // bounding plan size to O(16·N) per pass for large k.
  val MmrFoldEvery = 16

  def mmrTopK(emb: DataFrame, vecCol: String, idCol: String,
      queryId: Long, k: Int, lambda: Double): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0,1]")
    val spark = emb.sparkSession
    val qVec = emb.where(col(idCol) === lit(queryId))
      .select(transform(col(vecCol), _.cast("double")).as("q"))
      .head().getSeq[Double](0).toArray
    val qCol = array(qVec.toSeq.map(lit): _*)
    val cand = graft.ops.ScaleOps.fanOut(emb)
      .where(col(idCol) =!= lit(queryId))
      .select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("qsim", cosine(col("v"), qCol))
      .cache()
    var interim: Option[org.apache.spark.sql.DataFrame] = None
    try {
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Double], Double, Double)]
      // picks since the last fold: excluded via isin, penalized inline
      val pending = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      var hasMaxSim = false
      var cur = cand
      var exhausted = false
      def pendingSims: Seq[Column] =
        pending.toSeq.map { case (_, sv) =>
          cosine(col("v"), array(sv.toSeq.map(lit): _*)) }
      def penaltyCols: Seq[Column] =
        (if (hasMaxSim) Seq(col("max_sim")) else Nil) ++ pendingSims
      while (sel.size < k && !exhausted) {
        val penalty: Column = penaltyCols match {
          // the first pick has no penalty term (matches the oracle's
          // λ·qsim − (1−λ)·0 for an empty selection)
          case Nil => lit(0.0)
          case Seq(one) => one
          case many => greatest(many: _*)
        }
        val score = lit(lambda) * col("qsim") -
          (lit(1.0) - lit(lambda)) * penalty
        val remaining =
          if (pending.isEmpty) cur
          else cur.where(!col("id").isin(pending.map(_._1).toSeq: _*))
        remaining
          .select(col("id"), col("v"), col("qsim"), score.as("mmr"))
          .orderBy(col("mmr").desc, col("id"))
          .limit(1)
          .collect()
          .headOption match {
          case Some(r) =>
            val picked = (r.getLong(0), r.getSeq[Double](1).toArray,
              r.getDouble(2), r.getDouble(3))
            sel += picked
            pending += ((picked._1, picked._2))
            if (pending.size >= MmrFoldEvery && sel.size < k) {
              val folded = penaltyCols match {
                case Seq(one) => one
                case many => greatest(many: _*)
              }
              val next = cur
                .where(!col("id").isin(pending.map(_._1).toSeq: _*))
                .withColumn("max_sim", folded)
                .cache()
              next.count(): Unit // materialize BEFORE dropping the old cache
              interim.foreach(_.unpersist(): Unit)
              interim = Some(next)
              cur = next
              hasMaxSim = true
              pending.clear()
            }
          case None => exhausted = true
        }
      }
      import spark.implicits._
      sel.toSeq.zipWithIndex
        .map { case ((id, _, qs, sc), i) => (i + 1L, id, qs, sc) }
        .toDF("rank", idCol, "qsim", "mmr")
    } finally {
      cand.unpersist(): Unit
      interim.foreach(_.unpersist(): Unit)
    }
  }

  /** Batch top-k: k nearest corpus vectors for EVERY query vector in
    * one job — the realistic retrieval shape (a query set, not a
    * single probe). The query side broadcasts (queries are typically
    * ≪ corpus); ranking is a per-query window, so the corpus is
    * scanned once regardless of query count.
    */
  def bruteForceTopKBatch(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, queryIdCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = graft.ops.ScaleOps.fanOut(corpus)
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("cos_sim"), col("rank").cast("long").as("rank"))
  }

  /** Exact top-k AUDIT leg shared by the recall audits (s41 NN-descent,
    * s42 ADC/SDC, s44 adaptive nprobe): per query, the k nearest
    * non-self corpus vectors by (cosine desc, id asc). One shape, one
    * tie-break, one rounding discipline — a fix or tie-break change
    * here moves every audit together instead of diverging hand-rolled
    * copies. `queries` must carry (src, qv).
    */
  private[pipeline] def exactTopKSelf(corpus: DataFrame, vecCol: String,
      idCol: String, queries: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cs").desc, col("dst"))
    graft.ops.ScaleOps.fanOut(corpus)
      .select(col(idCol).as("dst"), col(vecCol).as("vb"))
      .crossJoin(broadcast(queries))
      .where(col("dst") =!= col("src"))
      .withColumn("cs", cosine(col("vb"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("src"), col("dst"))
  }

  /** Batch maximum-inner-product top-k (MIPS): k corpus vectors with
    * the largest RAW DOT PRODUCT per query — the retrieval mode for
    * un-normalized embeddings where magnitude carries signal
    * (recommendation scores, reward models, learned sparse retrieval),
    * as opposed to cosine's angle-only ranking. Same cost shape as
    * [[bruteForceTopKBatch]]: queries broadcast, the corpus scans
    * once, the codegen dot kernel runs scan-side, per-query ranking is
    * a WindowGroupLimit (partial top-k before the exchange).
    *
    * @return (query_id, id, dot, rank), rank 1..k per query
    */
  def mipsTopKBatch(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, queryIdCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = graft.ops.ScaleOps.fanOut(corpus)
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(q))
      .withColumn("dot", dot(col(vecCol), col("q_vec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("dot"), col("rank").cast("long").as("rank"))
  }

  /** Threshold (radius) similarity search: every corpus vector whose
    * cosine to a query meets `minCos` — the "find everything this
    * close" sibling of top-k, which retrieval-augmented data curation
    * uses when the NUMBER of neighbors is unknown but the quality bar
    * is (topic expansion, near-dup sweeps around known-bad documents,
    * recall-complete contamination checks).
    *
    * Cost shape is the batch-scan contract: queries broadcast, the
    * corpus scans ONCE regardless of query count, the codegen'd
    * cosine kernel and the threshold predicate both run scan-side —
    * no shuffle at all (top-k needs the per-query rank window; a
    * threshold doesn't even need that). At 100 TB the corpus side
    * swaps for cell-pruned candidates ([[graft.pipeline.Ivf.rangeSearchSeeded]])
    * with the same threshold as the post-filter.
    *
    * @param excludeSelf drop pairs where corpus id == query id.
    *        Default true, which is ONLY meaningful when the query
    *        frame is drawn from the corpus (shared id space) — pass
    *        false when queries come from a different frame, where a
    *        coincidental id collision would otherwise silently drop a
    *        valid qualifying neighbor.
    * @return (query_id, id, cos_sim), one row per qualifying pair
    */
  def rangeSearch(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, queryIdCol: String,
      minCos: Double, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("q_vec"))
    val paired = graft.ops.ScaleOps.fanOut(corpus)
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(q))
    val scoped =
      if (excludeSelf) paired.where(col(idCol) =!= col("query_id")) else paired
    scoped
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
      .where(col("cos_sim") >= lit(minCos))
      .select(col("query_id"), col(idCol), col("cos_sim"))
  }

  /** Hard-negative mining for contrastive training: for every anchor,
    * the k most-similar corpus vectors carrying a DIFFERENT label —
    * the highest-loss negatives a contrastive or reranker objective
    * trains on (easy random negatives contribute ~zero gradient; the
    * near-miss with the wrong label is the example that moves the
    * boundary).
    *
    * Same cost shape as [[bruteForceTopKBatch]] — anchors broadcast
    * with their labels, the corpus scans ONCE regardless of anchor
    * count, the label exclusion is a scan-stage predicate evaluated
    * BEFORE the cosine kernel (cheap filter first), and per-anchor
    * ranking is a window with InferWindowGroupLimit capping map-side
    * forwarding at k. Self-pairs are excluded by the label predicate
    * when the anchor carries its own label; an anchor whose label
    * covers the whole corpus yields no rows (nothing is a negative).
    * At 100 TB the corpus side swaps for an ANN shortlist
    * ([[lshTopK]]/[[Ivf.searchTopK]]) with the label predicate as the
    * post-filter — the window/rank contract is unchanged.
    *
    * @return (query_id, id, label, cos_sim, rank) — rank 1..k per
    *         anchor by cosine descending
    */
  def hardNegatives(
      corpus: DataFrame, anchors: DataFrame,
      vecCol: String, idCol: String, labelCol: String,
      anchorIdCol: String, k: Int): DataFrame = {
    val q = anchors.select(col(anchorIdCol).as("query_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label"))
    val scored = graft.ops.ScaleOps.fanOut(corpus)
      .select(col(idCol), col(vecCol), col(labelCol))
      .crossJoin(broadcast(q))
      .where(col(labelCol) =!= col("q_label"))
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col(labelCol), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for
    * (plane, dim): xxhash64 → uniform in [-0.5, 0.5). Stable across
    * executors; good enough for sign-LSH.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(1000003L)).cast("double") /
      lit(1000003.0)) - lit(0.5)

  /** Sign-LSH bucket id from `nPlanes` random hyperplanes: bit j =
    * sign(v · h_j). Vectors in the same bucket are ANN candidates.
    * One-pass kernel ([[graft.functions.SketchExpressions
    * .SignLshBucket]]); the whole bucketing stays in the scan stage.
    */
  def lshBucket(v: Column, nPlanes: Int): Column =
    graft.functions.SketchExpressions.signLshBucket(v, nPlanes)

  /** The composable higher-order-function formulation of
    * [[lshBucket]] — nPlanes interpreted folds per row; kept as the
    * reference semantics the kernel is spec-pinned against.
    */
  def lshBucketFold(v: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, transform(sequence(lit(0), size(v) - 1),
          d => planeComponent(p, d)), (x, h) => x.cast("double") * h),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** ANN top-k via sign-LSH bucketing: candidates = same bucket (plus,
    * with `multiProbe`, every Hamming-1 neighbor bucket); exact cosine
    * re-rank inside the candidate set.
    *
    * Multi-probe is the standard fix for sign-LSH's recall cliff: a
    * near neighbor that lands on the far side of ONE hyperplane
    * differs from the query bucket in exactly that sign bit, so
    * probing the nPlanes bit-flip buckets recovers it without
    * lowering nPlanes (which would coarsen every bucket and inflate
    * the candidate set globally). Cost shape is unchanged — the probe
    * side is still a tiny broadcast (now 1 + nPlanes rows instead of
    * 1) and the join stays bucket-local; expected candidates grow from
    * ~N/2^nPlanes to ~N(1+nPlanes)/2^nPlanes, still exponentially far
    * from the N² cross join. AnnRecallSpec measures the recall lift.
    */
  def lshTopK(
      emb: DataFrame, vecCol: String, idCol: String,
      queryId: Long, k: Int, nPlanes: Int = 8,
      multiProbe: Boolean = false): DataFrame = {
    val withB = graft.ops.ScaleOps.fanOut(emb)
      .withColumn("bucket", lshBucket(col(vecCol), nPlanes))
    // the probe set: the query's own bucket, plus — under multi-probe —
    // each single-bit flip of its signature (Hamming distance 1)
    val probes: Seq[Column] =
      col("bucket") +: (if (multiProbe)
        (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
      else Seq.empty)
    val q = withB.where(col(idCol) === lit(queryId))
      .select(explode(array(probes: _*)).as("q_bucket"), col(vecCol).as("q_vec"))
    withB.where(col(idCol) =!= lit(queryId))
      .join(broadcast(q), col("bucket") === col("q_bucket"))
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
      .select(col(idCol), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Sign-LSH with DATA-DERIVED hyperplanes — the first `nPlanes`
    * corpus vectors by id stand in for the seeded-RNG planes of
    * [[lshTopK]]. Same mechanics (sign bits → bucket int, bucket-local
    * candidates, exact cosine top-k) but every quantity is
    * reconstructable by an external engine in SQL: the planes are
    * data, the dot products accumulate ascending on both engines (the
    * s04 precedent), and the sign threshold is a plain `>= 0`. This
    * is the [[Pq.searchTopKSeeded]] move for the LSH family — it
    * upgrades the bucket construction from rows-only trusted to
    * oracle-proven (s17).
    */
  def lshTopKSeeded(
      emb: DataFrame, vecCol: String, idCol: String,
      queryId: Long, k: Int, nPlanes: Int = 4): DataFrame = {
    val planes: Seq[Array[Double]] = emb.orderBy(col(idCol)).limit(nPlanes)
      .select(transform(col(vecCol), _.cast("double")).as("v"))
      .collect().toSeq.map(_.getSeq[Double](0).toArray)
    require(planes.size == nPlanes, s"corpus has fewer than $nPlanes rows")
    val bucket: Column = planes.zipWithIndex.map { case (p, i) =>
      val plit = array(p.toSeq.map(lit): _*)
      when(graft.functions.VectorExpressions.dot(col(vecCol), plit) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val withB = graft.ops.ScaleOps.fanOut(emb).withColumn("bucket", bucket)
    val q = withB.where(col(idCol) === lit(queryId))
      .select(col("bucket").as("q_bucket"), col(vecCol).as("q_vec"))
    withB.where(col(idCol) =!= lit(queryId))
      .join(broadcast(q), col("bucket") === col("q_bucket"))
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
      .select(col(idCol), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch twin of [[lshTopKSeeded]]: top-k for every query row in one
    * corpus pass, data-derived planes, self-matches excluded — the
    * batch MECHANICS (broadcast query buckets, bucket-local join,
    * per-query rank window) under oracle-reconstructable parameters,
    * so the batch path is hash-proven like the single-query path
    * (s19; s11 keeps the RNG planes as the quality path).
    */
  def lshTopKSeededBatch(
      emb: DataFrame, queries: DataFrame, vecCol: String, idCol: String,
      queryIdCol: String, k: Int, nPlanes: Int = 4): DataFrame = {
    val planes: Seq[Array[Double]] = emb.orderBy(col(idCol)).limit(nPlanes)
      .select(transform(col(vecCol), _.cast("double")).as("v"))
      .collect().toSeq.map(_.getSeq[Double](0).toArray)
    require(planes.size == nPlanes, s"corpus has fewer than $nPlanes rows")
    def bucket(vec: Column): Column = planes.zipWithIndex.map { case (p, i) =>
      val plit = array(p.toSeq.map(lit): _*)
      when(graft.functions.VectorExpressions.dot(vec, plit) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("q_vec"), bucket(col(vecCol)).as("q_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    graft.ops.ScaleOps.fanOut(emb)
      .withColumn("bucket", bucket(col(vecCol)))
      .join(broadcast(q), col("bucket") === col("q_bucket") &&
        col(idCol) =!= col("query_id"))
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Batch ANN: LSH-bucketed top-k for EVERY query vector in one job —
    * the scale path of [[bruteForceTopKBatch]]. The corpus is scanned
    * once and scored only against queries sharing a bucket (expected
    * candidates per query ~N/2^nPlanes, vs N for brute force); the
    * query side broadcasts with its probe buckets pre-exploded
    * ((1+nPlanes)·|Q| rows under multi-probe, still tiny). A corpus
    * vector owns exactly ONE bucket and a query's probe buckets are
    * distinct, so each (query, corpus) candidate pair joins at most
    * once — no dedup pass. Ranking mirrors [[bruteForceTopKBatch]]
    * (per-query window, raw-rank filter → WindowGroupLimit caps
    * per-query state map-side). Self-matches are kept, like the
    * brute-force batch.
    */
  def lshTopKBatch(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, queryIdCol: String, k: Int,
      nPlanes: Int = 8, multiProbe: Boolean = false): DataFrame = {
    val withB = graft.ops.ScaleOps.fanOut(corpus)
      .select(col(idCol), col(vecCol))
      .withColumn("bucket", lshBucket(col(vecCol), nPlanes))
    val probes: Seq[Column] =
      col("__b0") +: (if (multiProbe)
        (0 until nPlanes).map(j => col("__b0").bitwiseXOR(lit(1L << j)))
      else Seq.empty)
    val q = queries
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("__b0", lshBucket(col("q_vec"), nPlanes))
      .select(col("query_id"), col("q_vec"),
        explode(array(probes: _*)).as("q_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    withB.join(broadcast(q), col("bucket") === col("q_bucket"))
      .withColumn("cos_sim", cosine(col(vecCol), col("q_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** All-pairs similarity above a threshold, LSH-blocked (the scale
    * variant of Dedup.embeddingNearDups). Recall < 1 by construction;
    * raise nPlanes for precision, lower for recall.
    */
  def lshNearDupPairs(
      emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nPlanes: Int = 6): DataFrame = {
    val withB = graft.ops.ScaleOps.fanOut(emb)
      .withColumn("bucket", lshBucket(col(vecCol), nPlanes))
    val a = withB.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = withB.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .where(col("cos_sim") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Deterministic ±1 Rademacher sign matrix (outDim × dim), sign(j,i)
    * from the parity of md5("j:i")'s first hex digit — the d12 "md5
    * twin" discipline: cryptographic mixing, driver-precomputed once
    * (no per-row hashing), and reconstructible in ANSI SQL so the
    * projection is oracle-provable bit-for-bit.
    */
  def rademacherSigns(outDim: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, dim) { (j, i) =>
      val firstHex = (md.digest(s"$j:$i".getBytes("UTF-8"))(0) >> 4) & 0xf
      if (firstHex % 2 == 0) 1.0 else -1.0
    }
  }

  /** Johnson-Lindenstrauss random projection: compress each embedding
    * to `outDim` dimensions via y = S·v / √outDim with S the
    * [[rademacherSigns]] ±1 matrix (Achlioptas 2003: ±1 entries give
    * the JL distance guarantee with no Gaussian sampling). The scale
    * path for everything downstream — a 64-d float corpus becomes a
    * 16-d sketch that preserves pairwise distances to 1±ε, shrinking
    * near-dup blocking, clustering, and shortlist ANN by 4× per
    * vector with no training step (unlike PQ/SQ, which fit
    * codebooks).
    *
    * Map-only: the sign matrix rides inside the codegen'd
    * [[graft.functions.VectorExpressions.MatVecProject]] kernel
    * (a reference object — no join, no broadcast variable, no
    * per-row hashing), so projection happens at scan speed with zero
    * exchanges. Components accumulate i-ascending and divide by
    * √outDim once — bit-identical to DuckDB's sequential
    * list_sum fold, rounded 6 dp at the edge.
    *
    * @return (idCol, proj: array<double> of outDim rounded components)
    */
  def randomProject(emb: DataFrame, vecCol: String, idCol: String,
      dim: Int, outDim: Int): DataFrame = {
    require(outDim >= 1 && dim >= 1, "dims must be positive")
    val kernel = graft.functions.VectorExpressions.matvec(
      col(vecCol), rademacherSigns(outDim, dim), math.sqrt(outDim.toDouble))
    // no fanOut: the operator is pure map work, so a repartition would
    // be its ONLY exchange — input-partition parallelism is the point
    emb.select(col(idCol), transform(kernel, y => round(y, 6)).as("proj"))
  }

  /** Projection-recall audit — the d19 discipline for the vector
    * side: exact top-k in the FULL space vs top-k in the
    * [[randomProject]]ed space, reporting per-anchor overlap@k. The
    * number that tells you whether outDim is high enough for YOUR
    * corpus before you commit the cheap space to blocking/shortlists
    * (JL guarantees distances in expectation; recall@k on real data
    * is what you act on). Both legs are the one-corpus-scan
    * broadcast-anchor shape; the evaluation join is pair-keyed; the
    * anchor grid left-joins so zero-overlap anchors report 0.
    *
    * @return (query_id, n_overlap, recall_at_k)
    */
  def projectionRecall(corpus: DataFrame, anchors: DataFrame,
      vecCol: String, idCol: String, dim: Int, outDim: Int,
      k: Int): DataFrame = {
    val exact = bruteForceTopKBatch(corpus, anchors, vecCol, idCol, idCol, k)
      .select(col("query_id"), col(idCol))
    val projC = randomProject(corpus, vecCol, idCol, dim, outDim)
    val projA = randomProject(anchors, vecCol, idCol, dim, outDim)
    val approx = bruteForceTopKBatch(projC, projA, "proj", idCol, idCol, k)
      .select(col("query_id"), col(idCol))
    val overlap = exact.join(approx, Seq("query_id", idCol))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_overlap"))
    anchors.select(col(idCol).as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_at_k",
        round(col("n_overlap").cast("double") / k, 6))
  }

  /** Composable higher-order-function reference for [[randomProject]]
    * — outDim interpreted folds per row; kept as the semantics the
    * codegen kernel is spec-pinned bit-identical against (the
    * [[lshBucketFold]] treatment).
    */
  def randomProjectFold(emb: DataFrame, vecCol: String, idCol: String,
      dim: Int, outDim: Int): DataFrame = {
    val signs = rademacherSigns(outDim, dim)
    val comps = (0 until outDim).map { j =>
      val row = array(signs(j).map(lit): _*)
      round(aggregate(
        zip_with(col(vecCol), row, (x, s) => x.cast("double") * s),
        lit(0.0), (acc, x) => acc + x) / lit(math.sqrt(outDim.toDouble)), 6)
    }
    emb.select(col(idCol), array(comps: _*).as("proj"))
  }
}
