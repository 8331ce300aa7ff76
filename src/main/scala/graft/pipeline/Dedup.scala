package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, Spark-first.
  *
  * Scale design (the interesting part at 100 TB):
  *  - exact/fingerprint dedup is a single hash-partitioned groupBy on
  *    a 128/64-bit digest — the digest (not the document) is the
  *    shuffle key, so shuffle volume is O(#docs × 16 bytes), not the
  *    corpus size.
  *  - MinHash-LSH shuffles (band-id, band-hash) pairs: O(#docs ×
  *    #bands × 16 bytes). Candidate pairs are generated per-bucket
  *    with a self-join *inside* each bucket; a bucket-size cap guards
  *    against degenerate buckets (all-identical spam) exploding the
  *    join quadratically.
  *  - SimHash reduces each doc to one 64-bit signature, then blocks
  *    on 16-bit bands (pigeonhole: hamming ≤ 3 ⇒ at least one of 4
  *    bands equal), so the pair join is again bucket-local.
  *  - verification joins are broadcast-free equi-joins on doc ids.
  */
object Dedup {

  /** Prefix of the `observe` metric carrying the count of posting
    * lists dropped by the [[ngramJaccardPairs]] `maxPostings` spam
    * guard. Each call mints a unique suffix — Spark rejects a plan
    * holding two CollectMetrics nodes with the same name, so a query
    * composing two capped dedup frames must not reuse one.
    */
  val postingMetricName = "graft.ngram.postings"

  private val postingMetricSeq = new java.util.concurrent.atomic.AtomicLong()

  // one listener per session: logs the dropped-posting-list count of
  // every capped ngramJaccardPairs run (weak-keyed so stopped test
  // sessions don't accumulate)
  private val dropLoggerSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  private def ensurePostingDropLogger(spark: org.apache.spark.sql.SparkSession): Unit =
    if (dropLoggerSessions.put(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(postingMetricName)) {
              val dropped = row.getAs[Long]("dropped_posting_lists")
              if (dropped > 0)
                org.slf4j.LoggerFactory.getLogger("graft.pipeline.Dedup").warn(
                  s"ngramJaccardPairs: dropped $dropped posting list(s) over the " +
                    "maxPostings cap; their shingles no longer contribute to intersections")
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })
    }

  /** Exact duplicate groups under whitespace/case normalization.
    * Returns one row per duplicate *group* (fingerprint, size,
    * representative = min id) — the usual "keep one per group" shape.
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("group_size"),
        min(col(idCol)).as("keep_id"))

  /** Exact dedup with PROVENANCE: duplicate groups reported with the
    * sorted distinct values of a metadata column (source, crawl,
    * license) across the collapsed members — what an auditable
    * pipeline keeps when it drops rows: "this survivor also appeared
    * in srcA and srcB". Without it, collapsing duplicates silently
    * destroys source attribution (and with it per-source counts,
    * licensing trails, and mixture weights computed downstream).
    *
    * Same single partial-aggregated digest exchange as
    * [[exactGroups]]; the provenance set rides the same aggregation
    * (collect_set is bounded by the metadata cardinality, then
    * sorted so the output is deterministic under any partitioning).
    * Only groups that actually collapsed (size ≥ 2) report.
    *
    * @return (fp, group_size, keep_id, provenance) — provenance a
    *         comma-joined sorted distinct list
    */
  def exactGroupsWithProvenance(docs: DataFrame, textCol: String,
      idCol: String, metaCol: String): DataFrame =
    docs
      .select(col(idCol), col(metaCol).as("__meta"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("group_size"),
        min(col(idCol)).as("keep_id"),
        array_join(array_sort(collect_set(col("__meta"))), ",").as("provenance"))
      .where(col("group_size") >= 2)

  /** Cross-source duplication matrix — for every unordered source
    * pair, how many duplicated-content pairs span it and how many
    * distinct contents are involved. The crawl-overlap diagnostic
    * that answers "is crawl B mostly a re-crawl of crawl A?" before
    * you pay to process it, and the per-pair evidence provenance
    * audits and mixture-weight corrections start from (d21 reports
    * per-group provenance; this is its corpus-level rollup).
    * Granularity: whole-document fingerprints by default; pass
    * `chunkTokens` to count duplicated fixed-width CHUNKS instead
    * (the d09 unit — boilerplate shared across sources shows up here
    * long before whole documents collide).
    *
    * Scale shape: the corpus reduces to ONE (content-key, source)
    * partial-aggregated digest exchange — same cost as d01/d09; the
    * pair matrix then self-joins the digest-count frame (duplicated
    * keys only, a vanishing fraction of the corpus) with the
    * combinatorics done in COUNT ARITHMETIC (c_a·c_b per digest,
    * C(c,2) within a source) — no occurrence-pair materialization,
    * text never shuffles.
    *
    * @return (src_a, src_b, n_pairs, n_digests), src_a <= src_b,
    *         only pairs with at least one spanning dup pair
    */
  def crossSourceDups(docs: DataFrame, textCol: String,
      sourceCol: String, chunkTokens: Option[Int] = None): DataFrame = {
    val keyed = chunkTokens match {
      case Some(w) =>
        TextChunker.chunk(docs, textCol, sourceCol, w, w)
          .select(md5(col("chunk_text")).as("fp"),
            col(sourceCol).as("source"))
      case None =>
        docs.select(TextAnalysis.fingerprint(col(textCol)).as("fp"),
          col(sourceCol).as("source"))
    }
    val fps = keyed
      .groupBy(col("fp"), col("source"))
      .agg(count(lit(1)).as("c"))
    val a = fps.select(col("fp"), col("source").as("src_a"), col("c").as("ca"))
    val b = fps.select(col("fp"), col("source").as("src_b"), col("c").as("cb"))
    a.join(b, "fp").where(col("src_a") <= col("src_b"))
      .withColumn("n",
        when(col("src_a") === col("src_b"),
          (col("ca") * (col("ca") - 1) / 2).cast("long"))
          .otherwise(col("ca") * col("cb")))
      .where(col("n") > 0)
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("n")).as("n_pairs"),
        countDistinct(col("fp")).as("n_digests"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** SOFT dedup — downweight instead of drop ("Scaling Data-
    * Constrained Language Models" showed repeated data still helps at
    * the right weight, and hard-dropping near-dups throws away
    * diversity the cluster's members carry): every document keeps a
    * training-loss weight 1/|near-dup cluster|, 1.0 for singletons,
    * so each DISTINCT piece of content contributes one unit of loss
    * mass however many times it was crawled. The same pair graph +
    * transitive closure as [[connectedComponents]]/d06, ending in a
    * weight column instead of an anti-join.
    *
    * Scale: pair generation is the capped inverted index (pass
    * `maxPostings` in production; None keeps the exact oracle-
    * comparable contract), cluster sizes ride the closure's label
    * frame, and the corpus joins ONCE by id (ids-only frame on the
    * build side — document text never reshuffles, the d11 move).
    *
    * @return (id, cluster_size, weight) for EVERY corpus doc
    */
  def softDedupWeights(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val pairs = ngramJaccardPairs(docs, textCol, idCol, n, threshold, maxPostings)
    val cs = connectedComponents(pairs)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("id"), col("cluster_size"))
    docs.select(col(idCol).as("id"))
      .join(cs, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_size"), lit(1L)).cast("long").as("cluster_size"))
      .withColumn("weight", round(lit(1.0) / col("cluster_size"), 6))
  }

  /** Word n-gram shingle set, one row per distinct (id, shingle).
    * Tokens come from the canonical form (lowercased,
    * whitespace-collapsed) so exact duplicates under normalization
    * always produce identical shingle sets — which in turn guarantees
    * MinHash-LSH recall 1.0 on them.
    */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val toks = split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " ")
    // shingle i = tokens[i..i+n): build via transform over an index
    // sequence — stays inside codegen, no explode until after distinct
    // guard short docs: sequence(0, -1) would DESCEND and produce
    // negative indices (slice start 0 error)
    val idxs = when(size(toks) >= lit(n), sequence(lit(0), size(toks) - lit(n)))
      .otherwise(array().cast("array<int>"))
    val grams = transform(idxs, i => array_join(slice(toks, i + 1, lit(n)), " "))
    docs
      .select(col(idCol).as("id"), explode(array_distinct(grams)).as("shingle"))
      .where(length(col("shingle")) > 0)
  }

  /** Exact n-gram Jaccard similarity over all candidate pairs sharing
    * at least one shingle. Output: (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard ≥ threshold.
    *
    * This is the exact (quadratic-in-collisions) baseline; use
    * [[minHashLsh]] at scale. The shared-shingle join is the classic
    * inverted-index trick: pairs with zero overlap are never formed.
    */
  /** Hashed shingle rows (id, shingle: long) via the one-pass
    * [[graft.functions.ShingleHashes]] kernel — same shingle set as
    * [[shingles]], no per-shingle string materialization.
    */
  def hashedShingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    graft.ops.ScaleOps.fanOut(docs).select(col(idCol).as("id"),
      explode(graft.functions.ShingleHashes(col(textCol), n)).as("shingle"))

  /** Shared inverted-index core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: per-pair shingle intersection counts and
    * per-doc shingle-set sizes. Returns (inter, sizes) where inter =
    * (id_a, id_b, n_inter) with id_a < id_b and sizes = (id, n_sh).
    */
  private def shingleIntersections(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, maxPostings: Option[Int]): (DataFrame, DataFrame) = {
    val (inter, sizes, _) =
      shingleIntersectionsWithSets(docs, textCol, idCol, n, maxPostings)
    (inter, sizes)
  }

  /** [[shingleIntersections]] that also exposes the scope-cached
    * (id, sh_arr) frame, for composites ([[pairEvidence]]) that need
    * further per-doc hash work WITHOUT re-running the shingle kernel
    * (a second releaseAfterUse on an identical plan would register a
    * duplicate cache entry; sharing the frame shares the cache).
    */
  private def shingleIntersectionsWithSets(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, maxPostings: Option[Int]): (DataFrame, DataFrame, DataFrame) = {
    // join/shuffle 64-bit shingle hashes, not strings: ~25% the
    // shuffle bytes, primitive-key join. A hash collision would
    // inflate an intersection count, but even 1e6 distinct shingles
    // in a 2^64 space put P(any collision) ~ 1e-7 — far below other
    // nondeterminism sources.
    //
    // Shape: classic inverted index, but pairs are generated from the
    // per-shingle posting list (groupBy shingle → ids) instead of a
    // self-join — 2 shuffles total (postings, then pair counts) vs 3,
    // and shingles appearing in a single document (the vast majority
    // of a real corpus) are dropped before any pair work. A spam
    // shingle shared by m docs fans out m²/2 pairs map-side —
    // maxPostings (default 10k) drops such posting lists, with the
    // drop count surfaced via an `observe` metric and logged (trades
    // exactness: a dropped shingle stops contributing to
    // intersections; pass None for the exact quadratic baseline).
    // Caveat: when the FINAL result is empty, AQE's empty-relation
    // propagation replaces the executed subtree (observe node
    // included) with EmptyRelation, so the metric is not reported —
    // harmless, since an empty result means no pair survived anyway.
    // cached: the O(len)-per-doc shingle hashing feeds the postings
    // branch AND both sizes joins — uncached it would run three times.
    // Scoped (not bare cache()): the cache self-releases after the
    // first completed execution of the returned plan, so a long-lived
    // session issuing repeated dedup queries doesn't accumulate
    // pinned blocks (DedupCacheLifecycleSpec pins this).
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs).select(
        col(idCol).as("id"),
        graft.functions.ShingleHashes(col(textCol), n).as("sh_arr")))
    val sizes = docSets.select(col("id"), size(col("sh_arr")).cast("long").as("n_sh"))
    val exploded = docSets.select(explode(col("sh_arr")).as("shingle"), col("id"))
    val postings = maxPostings match {
      case Some(m) =>
        // capped path: count per shingle FIRST (map-side partial
        // counts, tiny rows), drop hot shingles, then collect posting
        // lists only for survivors — no reducer row ever materializes
        // more than m ids, so a spam shingle cannot OOM an executor
        // before the guard applies. One extra count shuffle vs the
        // exact path; the collect_list after the join reuses the
        // join's shingle partitioning (no further exchange).
        ensurePostingDropLogger(docs.sparkSession)
        val counts = exploded
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("n_docs_sh"))
          .observe(s"$postingMetricName.${postingMetricSeq.incrementAndGet()}",
            // only lists the cap removed count as dropped — singleton
            // shingles (n < 2) were never posting lists to begin with
            sum(when(col("n_docs_sh") > lit(m) && col("n_docs_sh") >= 2, 1L)
              .otherwise(0L)).as("dropped_posting_lists"))
          .where(col("n_docs_sh") >= 2 && col("n_docs_sh") <= lit(m))
        exploded
          .join(counts.select(col("shingle")), Seq("shingle"))
          .groupBy(col("shingle"))
          .agg(collect_list(col("id")).as("ids"))
      case None =>
        // exact path (the oracle's): 2 shuffles total
        exploded
          .groupBy(col("shingle"))
          .agg(collect_list(col("id")).as("ids"))
          .where(size(col("ids")) >= 2)
    }
    val inter = postings
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    (inter, sizes, docSets)
  }

  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val (inter, sizes) = shingleIntersections(docs, textCol, idCol, n, maxPostings)
    jaccardPairsFrom(inter, sizes, threshold)
  }

  /** The jaccard-threshold tail of [[ngramJaccardPairs]], over
    * precomputed (inter, sizes) — shared with [[pairEvidence]] so the
    * composite reuses one shingle-kernel cache instead of re-running
    * the pair pass from scratch.
    */
  private def jaccardPairsFrom(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    // no broadcast hint on sizes: one row per doc is broadcastable at
    // benchmark scale but not at 100 TB — AQE picks broadcast when the
    // runtime size allows
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** IDF-WEIGHTED n-gram Jaccard pairs — [[ngramJaccardPairs]] with
    * each shingle weighted by its corpus rarity, w(s) = round-6
    * ln(N/df(s)): two docs sharing rare shingles are near-dups; two
    * docs sharing only boilerplate shingles (header/footer/license
    * text — exactly what df counts) are not. Plain Jaccard inflates
    * the second class; weighted Jaccard wJ(A,B) = Σ_{A∩B} w / Σ_{A∪B}
    * w sends a df=N shingle's weight to ln(1)=0, so boilerplate
    * contributes nothing to either side of the ratio. The weighted
    * min-hash literature (consistent sampling) approximates this
    * measure; here the inverted index computes it exactly.
    *
    * Determinism: weights are rounded 6 dp and both sums run through
    * DECIMAL(18,6) (exact on any engine, any partitioning); the final
    * ratio is one double division.
    *
    * Scale shape: d02's inverted index with the df rollup reused as
    * the weight table (one extra shingle-keyed join, AQE-broadcast at
    * realistic vocabulary skew); `maxPostings` drops over-cap
    * shingles from the index — PRINCIPLED here, not just a guard:
    * a shingle in more than `cap` docs carries near-zero idf, so the
    * cap removes exactly the rows whose weight rounds toward 0.
    * df and N always count the FULL corpus (the cap prunes the pair
    * index, not the statistics).
    *
    * @return (id_a, id_b, w_jaccard round-6) with id_a < id_b and
    *         w_jaccard ≥ threshold (unsorted — callers order)
    */
  def weightedJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val spark = docs.sparkSession
    // the d02 shape end to end: hashed shingles (64-bit keys — every
    // exchange carries (id, long, decimal) triples, never strings;
    // collisions are the suite's accepted xxhash64 odds), the shingle
    // kernel runs ONCE behind a scoped cache, and pairs expand from
    // per-shingle POSTING LISTS map-side instead of a posting
    // self-join (the self-join spelling measured 3.7x this shape's
    // wall at 10x). The weight table is the df rollup itself; the
    // posting collect_list reuses the weight join's shingle
    // partitioning, so the weighted pair pass costs the df rollup +
    // one pair exchange + one doc-sum exchange beyond d02.
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs).select(
        col(idCol).as("id"),
        graft.functions.ShingleHashes(col(textCol), n).as("sh_arr")))
    val exploded = docSets.select(explode(col("sh_arr")).as("shingle"), col("id"))
    // N = docs with >= 1 shingle, counted on the per-doc frame — the
    // old countDistinct over the exploded (id, shingle) rows paid a
    // corpus×shingles two-phase distinct for a number the doc-level
    // cache already holds (sh_arr is distinct per doc, so a doc
    // contributes iff its array is non-empty)
    val nDocs = docSets.where(size(col("sh_arr")) > 0)
      .agg(count(lit(1)).as("n"))
    val dfW = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("shingle"), col("df"),
        round(log(col("n").cast("double") / col("df").cast("double")), 6)
          .cast("decimal(18,6)").as("w"))
    val wExploded = exploded.join(dfW, Seq("shingle"))
    // scope-cached: (a) it feeds BOTH final joins; (b) the cache's
    // known statistics let the planner BROADCAST it onto the pair
    // frame — without them the 50k-row frame sort-merge-joined the
    // 113M-row candidate set at the 10x smoke (150 s vs 9 s
    // measured). At broadcast-breaking corpus sizes the join degrades
    // to SMJ on its own and the cache spills — pair-bound either way.
    val docSums = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      wExploded.groupBy(col("id")).agg(sum(col("w")).as("sw")))
    val indexed = maxPostings match {
      case Some(cap) => wExploded.where(col("df") <= lit(cap))
      case None => wExploded
    }
    val interW = indexed
      .groupBy(col("shingle"))
      .agg(collect_list(col("id")).as("ids"), first(col("w")).as("w"))
      .where(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"), col("w"))
      .select(col("id_a"), explode(col("ids")).as("id_b"), col("w"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w")).as("swi"))
    val wj = col("swi").cast("double") /
      (col("sw_a") + col("sw_b") - col("swi")).cast("double")
    interW
      .join(docSums.select(col("id").as("id_a"), col("sw").as("sw_a")),
        Seq("id_a"))
      .join(docSums.select(col("id").as("id_b"), col("sw").as("sw_b")),
        Seq("id_b"))
      .where(wj >= lit(threshold))
      .select(col("id_a"), col("id_b"), round(wj, 6).as("w_jaccard"))
  }

  /** PREFIX-FILTERED exact Jaccard pairs — [[ngramJaccardPairs]]'
    * result through the all-pairs prefix-filtering plan (Chaudhuri et
    * al. SSJoin / Bayardo et al. WWW'07, public literature): order
    * every doc's shingles by global rarity (df ascending, hash
    * tie-break) and index ONLY each doc's first
    * `p = |d| − ⌈τ·|d|⌉ + 1` shingles. Guarantee (lossless): J(x,y) ≥
    * τ ⟹ |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉ =: α, and two sets sorted by one
    * global order with overlap ≥ α must share an element inside their
    * (|·| − α + 1)-prefixes — which the p-prefixes contain (α ≥
    * ⌈τ·|d|⌉). So every qualifying pair surfaces as a candidate; the
    * exact verify then computes true Jaccard on candidates only.
    *
    * Why it matters at 100 TB: d02's inverted index pays pair fan-out
    * on EVERY shared shingle — boilerplate (header/footer/license
    * text, df ≈ N) fans out N²-ish candidate work even though no
    * boilerplate-only pair can pass τ. Under the df-ascending order,
    * boilerplate shingles rank LAST inside each doc and fall outside
    * the prefix, so they are never indexed: candidates collapse to
    * pairs sharing RARE content (Round18Spec pins zero candidates on
    * a shared-boilerplate corpus where the full index fans out all
    * pairs). Cost: one extra df rollup + one id-keyed window exchange
    * versus d02; the verify joins move one hash array per CANDIDATE
    * doc (the d24 verify shape).
    *
    * `maxPostings` caps surviving PREFIX posting lists (default 10k,
    * the Dedup-surface invariant); prefix lists are rare-token lists
    * by construction, so the cap binds only on degenerate corpora.
    * Pass None for the exact oracle-comparable baseline.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    *         threshold (unsorted — callers order)
    */
  def prefixFilterPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val (cand, docSets) =
      prefixFilterCandidates(docs, textCol, idCol, n, threshold, maxPostings)
    val nInter = size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
    cand
      .join(docSets.select(col("id").as("id_a"), col("sh_arr").as("arr_a")),
        Seq("id_a"))
      .join(docSets.select(col("id").as("id_b"), col("sh_arr").as("arr_b")),
        Seq("id_b"))
      .withColumn("n_inter", nInter)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("arr_a")).cast("long") + size(col("arr_b")).cast("long")
          - col("n_inter")).cast("double"))
      .where(col("jaccard") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Candidate stage of [[prefixFilterPairs]], exposed for the
    * Round18Spec reduction pin. Returns (candidates (id_a, id_b)
    * distinct with id_a < id_b, scope-cached docSets (id, sh_arr)).
    */
  private[graft] def prefixFilterCandidates(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxPostings: Option[Int]): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // scope-cached: feeds the prefix ranking AND both verify joins
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs).select(
        col(idCol).as("id"),
        graft.functions.ShingleHashes(col(textCol), n).as("sh_arr")))
    val exploded = docSets
      .where(size(col("sh_arr")) > 0)
      .select(col("id"), size(col("sh_arr")).cast("long").as("n_sh"),
        explode(col("sh_arr")).as("shingle"))
    // df as a count window over the shingle partitioning instead of a
    // groupBy + join back: ONE explode pass + one exchange where the
    // rollup/join spelling computed the explode twice and exchanged
    // three times
    val wDf = Window.partitionBy(col("shingle"))
    // global rarity order (df asc, hash asc); prefix keeps ranks
    // 1..|d|−⌈τ·|d|⌉+1 — ≥ 1 for any τ ≤ 1, so no doc vanishes
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val prefixRows = exploded
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + lit(1L))
      .select(col("shingle"), col("id"))
    val postings = maxPostings match {
      case Some(m) =>
        // same count-first cap as [[shingleIntersections]]: no reducer
        // row materializes more than m ids; drops surface via observe
        ensurePostingDropLogger(docs.sparkSession)
        val counts = prefixRows
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("n_docs_sh"))
          .observe(s"$postingMetricName.${postingMetricSeq.incrementAndGet()}",
            sum(when(col("n_docs_sh") > lit(m) && col("n_docs_sh") >= 2, 1L)
              .otherwise(0L)).as("dropped_posting_lists"))
          .where(col("n_docs_sh") >= 2 && col("n_docs_sh") <= lit(m))
        prefixRows
          .join(counts.select(col("shingle")), Seq("shingle"))
          .groupBy(col("shingle"))
          .agg(collect_list(col("id")).as("ids"))
      case None =>
        prefixRows
          .groupBy(col("shingle"))
          .agg(collect_list(col("id")).as("ids"))
          .where(size(col("ids")) >= 2)
    }
    // a pair may share several prefix shingles → distinct before verify
    val cand = postings
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    (cand, docSets)
  }

  /** PREFIX-FILTERED exact CONTAINMENT join — [[prefixFilterPairs]]'s
    * discipline applied to [[containmentPairs]]'s directed semantics
    * (containment(sub → super) = |sub ∩ super| / |sub| ≥ τ). The
    * asymmetric prefix scheme: only the SUB side is prefix-indexed
    * (its first |d| − ⌈τ·|d|⌉ + 1 shingles under the global
    * df-ascending rarity order — a qualifying overlap of ⌈τ·|sub|⌉
    * must touch that prefix by pigeonhole), while the SUPER side
    * keeps FULL postings (its matching shingles can sit anywhere in
    * its set, so no super-side prefix bound exists without knowing
    * the smallest sub size). LOSSLESS for containment ≥ τ ONLY at
    * `maxPostings = None` (that exact configuration is what the d41
    * hash match against the plain exact-pair oracle proves): the
    * pigeonhole argument needs the super side's postings COMPLETE, so
    * the capped default — kept for the 8 GiB-broadcast safety reason
    * every sibling pair API shares — may silently drop a true pair
    * whose only sub-prefix match runs through a hot (capped) shingle.
    * Callers needing the exact directed join pass
    * `maxPostings = None` explicitly and accept the worst-case
    * posting fan-out.
    *
    * The 100 TB point, same as d40's: boilerplate (df ≈ N shingles)
    * ranks LAST in the rarity order and never enters any SUB prefix,
    * so the candidate join's quadratic side is killed even though the
    * super side indexes everything — candidates require a sub-prefix
    * match. Cost beyond d07's full×full intersection: one df count
    * window + one id-keyed prefix window over (id, long, long)
    * triples; verify joins move one hash array per CANDIDATE doc.
    *
    * @return (id_sub, id_super, containment) — directed, both
    *         directions evaluated, exact division (unsorted)
    */
  def prefixFilterContainment(docs: DataFrame, textCol: String,
      idCol: String, n: Int, threshold: Double,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val (cand, docSets) = prefixFilterContainmentCandidates(
      docs, textCol, idCol, n, threshold, maxPostings)
    cand
      .join(docSets.select(col("id").as("id_sub"), col("sh_arr").as("arr_a")),
        Seq("id_sub"))
      .join(docSets.select(col("id").as("id_super"), col("sh_arr").as("arr_b")),
        Seq("id_super"))
      .withColumn("containment",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .cast("double") / size(col("arr_a")).cast("long").cast("double"))
      .where(col("containment") >= lit(threshold))
      .select(col("id_sub"), col("id_super"), col("containment"))
  }

  /** Candidate stage of [[prefixFilterContainment]], exposed for the
    * Round19Spec reduction pin. Returns (directed candidates
    * (id_sub, id_super) distinct, scope-cached docSets (id, sh_arr)).
    */
  private[graft] def prefixFilterContainmentCandidates(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxPostings: Option[Int]): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs).select(
        col(idCol).as("id"),
        graft.functions.ShingleHashes(col(textCol), n).as("sh_arr")))
    val exploded = docSets
      .where(size(col("sh_arr")) > 0)
      .select(col("id"), size(col("sh_arr")).cast("long").as("n_sh"),
        explode(col("sh_arr")).as("shingle"))
    val wDf = Window.partitionBy(col("shingle"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val subPrefix = exploded
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + lit(1L))
      .select(col("shingle"), col("id").as("id_sub"))
    val fullRows = maxPostings match {
      case Some(m) =>
        // count-first degenerate-posting guard on the FULL super side
        // (the shingleIntersections discipline); drops surface via the
        // shared observe logger
        ensurePostingDropLogger(docs.sparkSession)
        val kept = exploded
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("n_docs_sh"))
          .observe(s"$postingMetricName.${postingMetricSeq.incrementAndGet()}",
            sum(when(col("n_docs_sh") > lit(m), 1L).otherwise(0L))
              .as("dropped_posting_lists"))
          .where(col("n_docs_sh") <= lit(m))
          .select(col("shingle"))
        exploded.join(kept, Seq("shingle"))
          .select(col("shingle"), col("id").as("id_super"))
      case None => exploded.select(col("shingle"), col("id").as("id_super"))
    }
    val cand = subPrefix.join(fullRows, Seq("shingle"))
      .where(col("id_sub") =!= col("id_super"))
      .select(col("id_sub"), col("id_super"))
      .distinct()
    (cand, docSets)
  }

  /** PAIR EVIDENCE — for each qualifying near-dup pair, the k RAREST
    * shared shingles (rarity = corpus-wide df ascending, ties to the
    * shingle text): the lines a human reviewer actually reads before
    * trusting a dedup drop. Two docs pairing through distinctive
    * content show rare shared shingles (df=2); a pair glued together
    * by boilerplate shows df in the hundreds — the review-queue
    * triage signal, and the per-pair drill-down behind d38's
    * corpus-level weighting.
    *
    * Scale shape (r16 rework — guide §2.3, shuffle keys not
    * payloads): the pair pass is d02's (capped, hashed) and SHARES
    * its scope-cached (id, hash-array) frame, so the shingle kernel
    * runs once for the whole operator where the old spelling re-ran
    * the STRING shingle chain three times (df rollup, a-side,
    * b-side) and shuffled shingle strings corpus-wide. Now the df
    * rollup and the b-side membership probe run over 64-bit hashes
    * (same counts/membership as strings, modulo the suite's accepted
    * xxhash-class collision odds — the pair pass itself already
    * lives with them), and shingle STRINGS materialize exactly once,
    * for qualifying-pair a-side members only (the sliver): the
    * one-pass [[graft.functions.ShingleStrings]] kernel zipped
    * positionally with [[graft.functions.ShingleHashes]] — both emit
    * distinct shingles in first-occurrence order, so the zip is the
    * (hash → string) map. The per-pair top-k filter sits on the raw
    * row_number so InferWindowGroupLimit caps map-side forwarding at
    * k.
    *
    * @return (id_a, id_b, rank 1..k, shingle, df) (unsorted —
    *         callers order)
    */
  def pairEvidence(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, k: Int = 3,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    require(k > 0, "k must be positive")
    val (inter, sizes, docSets) =
      shingleIntersectionsWithSets(docs, textCol, idCol, n, maxPostings)
    val pairs = jaccardPairsFrom(inter, sizes, threshold)
      .select(col("id_a"), col("id_b"))
    // corpus-wide rarity over hashes: one partial-aggregated exchange
    // of (long, count) — strings never enter the rollup
    val dfT = docSets.select(explode(col("sh_arr")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    // strings for the SLIVER only (a-side pair members; every shared
    // shingle is in doc a by definition)
    val aStrings = docs
      .select(col(idCol).as("id_a"), col(textCol).as("__t"))
      .join(pairs.select(col("id_a")), Seq("id_a"), "left_semi")
      .select(col("id_a"),
        graft.functions.ShingleHashes(col("__t"), n).as("__ha"),
        graft.functions.ShingleStrings(col("__t"), n).as("__sa"))
      .select(col("id_a"), explode(arrays_zip(col("__ha"), col("__sa"))).as("z"))
      .select(col("id_a"), col("z.__ha").as("h"), col("z.__sa").as("shingle"))
    val aSide = pairs.join(aStrings, Seq("id_a"))
    val shared = aSide
      .join(docSets.select(col("id").as("id_b"),
        explode(col("sh_arr")).as("h")), Seq("id_b", "h"), "left_semi")
      .join(dfT, Seq("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("df"), col("shingle"))
    shared
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("id_a"), col("id_b"), col("__rn").cast("long").as("rank"),
        col("shingle"), col("df"))
  }

  /** The actionable end of the dedup suite: the corpus with every
    * near-dup CLUSTER collapsed to its minimum-id representative —
    * pair detection ([[ngramJaccardPairs]]) → transitive closure
    * ([[connectedComponents]]) → anti-join of the non-representative
    * members. Removing only direct pair partners would leave A~C
    * when A~B and B~C but A≁B directly; the closure removes the
    * whole chain behind one representative.
    *
    * Scale shape: the anti-join's right side is (cluster members −
    * representatives) — ids only, a sliver of the corpus, broadcast
    * under AQE; document text never reshuffles. The closure's caches
    * are scoped (see [[connectedComponents]]), so the composite is
    * session-safe.
    */
  def dedupedCorpus(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.3,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val pairs = ngramJaccardPairs(docs, textCol, idCol, n, threshold, maxPostings)
    val losers = connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupedCorpus]] with the representative a PRODUCTION dedup
    * actually keeps: the highest-QUALITY member of each near-dup
    * cluster (ties to the smallest id), not the smallest id
    * unconditionally. Min-id keep is the right oracle-stable default
    * for audits, but when a cluster mixes a clean original with
    * boilerplate-injected mirrors, the min id is just whichever the
    * crawler saw first — keep-best retains the member worth training
    * on. Quality is the t02 contract ([[TextAnalysis.qualityScore]],
    * rounded 6 dp so the argmax is bit-portable cross-engine).
    *
    * Scale shape: the capped pair pass + eager closure (d06/d11's),
    * one extra scan-stage quality projection, and a per-cluster
    * row_number whose partitions are cluster-sized. The labelling and
    * the id-keyed joins move (id, component, quality) triples only —
    * document text never reshuffles; singletons join the result via
    * an ids-only anti-join.
    *
    * @return (idCol, srcCol, quality round-6, cluster_size), one row
    *         per kept doc (unsorted — callers order)
    */
  def dedupedCorpusKeepBest(docs: DataFrame, textCol: String, idCol: String,
      srcCol: String, n: Int = 3, threshold: Double = 0.3,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val labels = connectedComponents(
      ngramJaccardPairs(docs, textCol, idCol, n, threshold, maxPostings)
        .select(col("id_a"), col("id_b")))
    val scored = docs.select(col(idCol).as("__id"), col(srcCol),
      round(graft.pipeline.TextAnalysis.qualityScore(col(textCol)), 6)
        .as("quality"))
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("quality").desc, col("__id"))
    val best = labels.select(col("id").as("__id"), col("component"))
      .join(scored, Seq("__id"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .join(sizes, Seq("component"))
      .select(col("__id"), col(srcCol), col("quality"), col("cluster_size"))
    val singletons = scored
      .join(labels.select(col("id").as("__id")), Seq("__id"), "left_anti")
      .select(col("__id"), col(srcCol), col("quality"),
        lit(1L).as("cluster_size"))
    best.unionByName(singletons).withColumnRenamed("__id", idCol)
  }

  /** INCREMENTAL near-dup pairs: the new batch × the existing corpus
    * only (no within-batch or within-corpus pairs) — the shape a
    * continuously-ingesting pipeline runs on every micro-batch, where
    * re-running [[ngramJaccardPairs]] over the unioned 100 TB corpus
    * would redo all historic pair work.
    *
    * Scale design — the corpus side never shuffles its text and is
    * scanned ONCE:
    *  - the new batch's distinct shingle hashes are BROADCAST; the
    *    corpus's exploded shingles map-side semi-join against them, so
    *    only corpus rows sharing ≥1 shingle with the batch ("matched")
    *    survive the scan stage — at real batch/corpus ratios that's a
    *    sliver of the corpus;
    *  - matched is scope-cached (it feeds the spam guard and the pair
    *    generation; uncached the corpus would scan twice) and released
    *    after the first execution, the [[shingleIntersections]]
    *    discipline;
    *  - the spam guard mirrors the capped path: count matched corpus
    *    docs per shingle FIRST (tiny rows), drop shingles over
    *    `maxCorpusPostings`, THEN generate (new_id, corpus_id) pairs —
    *    a boilerplate shingle shared by 10⁶ corpus docs never reaches
    *    the pair shuffle;
    *  - sizes are map-side `size(sh_arr)` projections; the final joins
    *    are AQE-broadcast at realistic pair counts.
    *
    * Contract: the new batch (its distinct shingles) must fit in a
    * broadcast — true for any sane ingest micro-batch. For a
    * batch-sized-like-the-corpus backfill, union the frames and run
    * [[ngramJaccardPairs]] instead.
    */
  def incrementalNearDupPairs(
      newDocs: DataFrame, corpus: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.3,
      maxCorpusPostings: Option[Int] = Some(10000)): DataFrame = {
    val newSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(newDocs).select(
        col(idCol).as("new_id"),
        graft.functions.ShingleHashes(col(textCol), n).as("sh_arr")))
    val newSizes = newSets.select(col("new_id"),
      size(col("sh_arr")).cast("long").as("n_new"))
    val newExploded = newSets.select(col("new_id"),
      explode(col("sh_arr")).as("shingle"))
    val corpSets = graft.ops.ScaleOps.fanOut(corpus).select(
      col(idCol).as("corpus_id"),
      graft.functions.ShingleHashes(col(textCol), n).as("sh_arr"))
    val corpSizes = corpSets.select(col("corpus_id"),
      size(col("sh_arr")).cast("long").as("n_corpus"))
    val matched = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      corpSets.select(col("corpus_id"), explode(col("sh_arr")).as("shingle"))
        .join(broadcast(newExploded.select(col("shingle")).distinct()),
          Seq("shingle")))
    val guarded = maxCorpusPostings match {
      case Some(m) =>
        val kept = matched
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("n_docs_sh"))
          .where(col("n_docs_sh") <= lit(m))
          .select(col("shingle"))
        matched.join(broadcast(kept), Seq("shingle"))
      case None => matched
    }
    val inter = guarded
      .join(broadcast(newExploded), Seq("shingle"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(newSizes, Seq("new_id"))
      .join(corpSizes, Seq("corpus_id"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_new") + col("n_corpus") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= lit(threshold))
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** The INCREMENTAL composed dedup run — [[dedupPipelineRun]]'s
    * daily-ingest sibling: admit a new batch against an existing
    * corpus, emitting every new doc's DISPOSITION plus the audit
    * counts in one result. Corpus wins (an existing doc is never
    * displaced): a new doc near-dupping the corpus at ≥ τ drops as
    * `dropped_corpus`; the remainder dedups within the batch
    * (pair → closure → keep-min-id) as `dropped_batch`; the rest is
    * `admitted`. Count rows: `corpus_pairs` (new×corpus qualifying
    * pairs) and `batch_pairs` (within-batch qualifying pairs among
    * corpus-clean docs).
    *
    * Scale shape: the corpus side is [[incrementalNearDupPairs]]'s —
    * the corpus scans ONCE with the batch's shingles broadcast,
    * corpus text never reshuffles; the within-batch side is
    * batch-sized ([[ngramJaccardPairs]] on the new docs only). Both
    * pair frames are consumed eagerly while cached (the d34
    * discipline — the closure's probe would release scoped caches
    * before a lazy count leg ran), and the result plan is ids-only
    * joins plus literal count rows.
    *
    * @return (stage, doc_id, n): one disposition row per new doc
    *         (stage ∈ admitted|dropped_corpus|dropped_batch, n null)
    *         plus two count rows (doc_id null)
    */
  def incrementalDedupRun(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, n: Int = 3, threshold: Double = 0.3,
      maxPostings: Option[Int] = Some(10000),
      maxCorpusPostings: Option[Int] = Some(10000)): DataFrame = {
    val spark = newDocs.sparkSession
    val idType = newDocs.schema(idCol).dataType
    val corpusPairs = incrementalNearDupPairs(newDocs, corpus, textCol, idCol,
      n, threshold, maxCorpusPostings).cache()
    val (nCorpusPairs, corpusDupIds) =
      try {
        val dup = corpusPairs.select(col("new_id").as("id")).distinct().cache()
        // pair count + dup-id materialization in ONE tagged-union
        // action (was two: count, then a second count just to pin the
        // id cache off the pair cache before releasing it)
        val np = corpusPairs.select(lit("p").as("t"))
          .unionAll(dup.select(lit("d").as("t")))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          .getOrElse("p", 0L)
        (np, dup)
      } finally corpusPairs.unpersist()
    val clean = newDocs.join(
      corpusDupIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    val batchPairs = ngramJaccardPairs(clean, textCol, idCol, n, threshold,
      maxPostings).cache()
    val (nBatchPairs, comp) =
      try (batchPairs.count(), connectedComponents(batchPairs))
      finally batchPairs.unpersist()
    // the eager phase (count + closure probe) is done reading the
    // corpus-dup id cache; scope it NOW so the caller's one result
    // execution reads it hot and then releases it — scoping earlier
    // would let the eager phase burn it and force a corpus rescan
    org.apache.spark.sql.graftbridge.CacheScope
      .releaseAfterUseExisting(corpusDupIds)
    val batchDropped = comp.where(col("id") =!= col("component"))
      .select(col("id"))
    val ids = newDocs.select(col(idCol).as("id"))
    def tag(df: DataFrame, stage: String) = df.select(
      lit(stage).as("stage"), col("id").as("doc_id"),
      lit(null).cast("long").as("n"))
    val dispositions = tag(ids.join(corpusDupIds, Seq("id"), "left_semi"),
        "dropped_corpus")
      .unionAll(tag(batchDropped, "dropped_batch"))
      .unionAll(tag(ids.join(corpusDupIds, Seq("id"), "left_anti")
        .join(batchDropped, Seq("id"), "left_anti"), "admitted"))
    def c1(stage: String, v: Long) = spark.range(1).select(
      lit(stage).as("stage"), lit(null).cast(idType).as("doc_id"),
      lit(v).as("n"))
    dispositions
      .unionAll(c1("corpus_pairs", nCorpusPairs))
      .unionAll(c1("batch_pairs", nBatchPairs))
  }

  /** DIRECTED containment pairs: C(sub→super) = |Sh(sub) ∩ Sh(super)|
    * / |Sh(sub)| ≥ threshold — the near-subset relation Jaccard
    * misses when a small document (a quote, a boilerplate block, a
    * chunk) is embedded in a much larger one: the union in Jaccard's
    * denominator drowns the overlap, while containment normalizes by
    * the contained side only. Both directions of every intersecting
    * pair are scored; output (id_sub, id_super, containment).
    *
    * Same scale shape as [[ngramJaccardPairs]] — the inverted-index
    * core is shared, and both directions come from ONE pass over the
    * intersection frame (a 2-row generator per pair), not a union
    * that would run the posting/intersection shuffles twice.
    */
  def containmentPairs(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.9,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val (inter, sizes) = shingleIntersections(docs, textCol, idCol, n, maxPostings)
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .select(explode(array(
        struct(col("id_a").as("id_sub"), col("id_b").as("id_super"),
          (col("n_inter").cast("double") / col("n_a").cast("double")).as("containment")),
        struct(col("id_b").as("id_sub"), col("id_a").as("id_super"),
          (col("n_inter").cast("double") / col("n_b").cast("double")).as("containment"))))
        .as("p"))
      .select(col("p.id_sub").as("id_sub"), col("p.id_super").as("id_super"),
        col("p.containment").as("containment"))
      .where(col("containment") >= lit(threshold))
  }

  /** MinHash signature column `sig` (array of the k minima) from a
    * per-doc shingle-set frame (id, sh_arr) — the one-pass
    * [[graft.functions.SketchExpressions.MinHashSig]] kernel, no
    * shuffle: only the finished k×8-byte signature ever moves.
    */
  def minHashSignatures(docSets: DataFrame, numHashes: Int): DataFrame =
    docSets.select(col("id"),
      graft.functions.SketchExpressions.minHashSig(col("sh_arr"), numHashes).as("sig"))

  /** MinHash-LSH with md5 SLOT-STRING minima — slot i's signature
    * value is `MIN(md5(i || ':' || shingle))`, a STRING min under
    * binary collation, and band keys concatenate r slot strings.
    * Lower throughput than the xxhash64 kernel ([[minHashLsh]] stays
    * the scale path), but every step — shingle normalization, md5
    * hex, string minima, banding, the bucket-local pair join — is
    * reconstructable by an external engine in plain SQL: d12 is the
    * full-oracle twin that upgrades the MinHash family from rows-only
    * trusted to oracle-proven, the [[Pq.searchTopKSeeded]] move.
    */
  /** The md5 slot-string MinHash signature frame (id, m0..m{k-1}) —
    * shared by [[minHashLshMd5]] and the d28 accuracy audit.
    */
  def minHashSigMd5(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    // one-pass kernel (distinct shingle STRINGS) — the composable
    // transform/slice/array_join chain allocates per-shingle slices
    // outside codegen and profiled as the operator's dominant cost
    val sh = docs.select(col(idCol).as("id"),
      explode(graft.functions.ShingleStrings(col(textCol), shingleN))
        .as("shingle"))
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat_ws(":", lit(i.toString), col("shingle")))).as(s"m$i"))
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded md5 slot-string signature rows (idAlias, band, key) — the
    * one construction shared by [[minHashLshMd5]] and
    * [[Decontaminate.fuzzyContaminationLsh]]'s cross-frame banding,
    * so the two stay byte-identical STRUCTURALLY (the t70-vs-d12
    * md5-twin discipline), not by parallel maintenance.
    */
  private[pipeline] def bandedMd5Signature(docs: DataFrame, textCol: String,
      idCol: String, shingleN: Int, numHashes: Int, bands: Int,
      idAlias: String = "id"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = minHashSigMd5(docs, textCol, idCol, shingleN, numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until r).map(j => col(s"m${b * r + j}")): _*).as("key"))
    }
    sig.select(col("id").as(idAlias), explode(array(bandCols: _*)).as("bk"))
      .select(col(idAlias), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  def minHashLshMd5(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val banded = bandedMd5Signature(docs, textCol, idCol, shingleN,
      numHashes, bands)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash + LSH banding near-dup candidates, verified with exact
    * Jaccard. numHashes = bands × rowsPerBand.
    *
    * Probability a pair with true Jaccard s becomes a candidate:
    * 1 − (1 − s^rows)^bands — e.g. 16 bands × 4 rows catches
    * s = 0.7 with p ≈ 0.986 while s = 0.3 only p ≈ 0.12.
    *
    * Scale shape: everything up to banding is computed inside the
    * scan stage (shingle set and signature are per-row kernels); the
    * only corpus-sized shuffles are the (band, bandHash) bucket
    * exchange — O(#docs × bands × 16 B) — and the candidate join,
    * which maxBucket bounds against degenerate buckets. Verification
    * joins move one shingle-hash array per *candidate* doc, not per
    * doc.
    */
  def minHashLsh(
      docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    // scoped cache: feeds the signature branch and both verification
    // joins; self-releases after the result's first execution
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs)
        .select(col(idCol).as("id"),
          graft.functions.ShingleHashes(col(textCol), shingleN).as("sh_arr"))
        .where(size(col("sh_arr")) > 0))
    val sig = minHashSignatures(docSets, numHashes)
    // band value = hash of its rowsPerBand signature slots
    val bandCols = (0 until bands).map { b =>
      val slots = (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(slots: _*).as("bh"))
    }
    val buckets = sig
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    // one groupBy builds the posting list per bucket, applies the
    // degenerate-bucket guard (maxBucket caps the quadratic pair
    // fan-out of an all-identical spam cluster), and generates the
    // candidate pairs map-side — no window sort, no self-join
    val candidates = buckets
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= lit(maxBucket))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    // exact-Jaccard verification of candidates only: join the two
    // shingle sets and intersect per pair (array_intersect is
    // hash-set linear; sets are already distinct)
    val verified = candidates
      .join(docSets.select(col("id").as("id_a"), col("sh_arr").as("sa")), Seq("id_a"))
      .join(docSets.select(col("id").as("id_b"), col("sh_arr").as("sb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
    verified
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double"))
      .where(col("jaccard") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The full production LSH dedup pipeline, hash-matched end to end:
    * md5-banded MinHash CANDIDATES ([[minHashLshMd5]]'s mechanism)
    * verified by exact Jaccard computed ONLY for candidate pairs,
    * keeping pairs ≥ `threshold`. This is the two-stage shape every
    * web-scale dedup runs (banding finds, exact math confirms —
    * candidates alone over-merge on band collisions; exact-everywhere
    * is quadratic): d12 proves the candidate set, d02 proves exact
    * Jaccard, d19 measures the recall trade — this operator is the
    * composition a pipeline actually deploys, with the expensive
    * exact computation confined to the candidate sliver.
    *
    * Scale shape: signatures and shingle sets are scan-stage kernels;
    * corpus-sized shuffles are the band-bucket exchange and the two
    * candidate-keyed set joins, which move one shingle-hash array per
    * CANDIDATE doc, not per doc.
    *
    * @return (id_a, id_b, jaccard) — candidates that passed exact
    *         verification, id_a < id_b
    */
  def lshVerifiedPairsMd5(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.3): DataFrame = {
    val cand = minHashLshMd5(docs, textCol, idCol, shingleN, numHashes, bands)
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs)
        .select(col(idCol).as("id"),
          graft.functions.ShingleHashes(col(textCol), shingleN).as("sh_arr"))
        .where(size(col("sh_arr")) > 0))
    cand
      .join(docSets.select(col("id").as("id_a"), col("sh_arr").as("sa")), Seq("id_a"))
      .join(docSets.select(col("id").as("id_b"), col("sh_arr").as("sb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double"))
      .where(col("jaccard") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The COMPOSED dedup pipeline run — the operator a production job
    * actually deploys after reading the calibration curves (d29–d33
    * price τ/bands/k in isolation; this RUNS the chosen config):
    * md5-banded MinHash candidates → exact-Jaccard verification at τ
    * → transitive closure → keep-min-id, emitting the deduped corpus
    * AND the per-stage audit trail (candidates, verified pairs,
    * clusters, docs dropped) in ONE result — the counts every
    * production dedup job logs beside its output.
    *
    * Scale shape: the candidate and verified-pair frames are scoped-
    * cached so ONE banding pass and ONE verification pass feed both
    * the corpus leg (closure → anti-join) and the counts legs —
    * nothing corpus-scale runs beyond what d11 already pays; the
    * counts are single-row aggregates of pair-sized frames unioned
    * onto the ids-only kept leg (document text never reshuffles).
    *
    * @return (stage, doc_id, n): one `stage='kept'` row per surviving
    *         doc (n null), plus four audit rows
    *         `stage ∈ candidates|verified|clusters|dropped`
    *         (doc_id null, n the count)
    */
  def dedupPipelineRun(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 8, bands: Int = 4,
      tau: Double = 0.3): DataFrame = {
    val spark = docs.sparkSession
    val idType = docs.schema(idCol).dataType
    // plain caches with a synchronous unpersist point: the closure is
    // eager (connectedComponents probes/iterates before returning), so
    // the pair stages are fully consumed inside this call — counting
    // them HERE, while the caches are hot, is what makes "one banding
    // pass, one verify pass" literally true (a lazy count leg in the
    // result plan would recompute both: the closure's probe execution
    // releases any CacheScope'd frame before the result ever runs)
    val cand = minHashLshMd5(docs, textCol, idCol, shingleN, numHashes, bands)
      .cache()
    val docSets = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"),
        graft.functions.ShingleHashes(col(textCol), shingleN).as("sh_arr"))
      .where(size(col("sh_arr")) > 0)
      .cache() // feeds both sides of the verify join
    val verified = cand
      .join(docSets.select(col("id").as("id_a"), col("sh_arr").as("sa")), Seq("id_a"))
      .join(docSets.select(col("id").as("id_b"), col("sh_arr").as("sb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double"))
      .where(col("jaccard") >= lit(tau))
      .select(col("id_a"), col("id_b"))
      .cache()
    val (nCand, nVer, comp) =
      try {
        // candidate + verified counts in ONE tagged-union action: the
        // verified branch reads the cand/docSets caches through its
        // joins (block-level cache locks serialize the racing
        // branches, so nothing computes twice), materializing all
        // three caches as a side effect
        val cnt = cand.select(lit("c").as("t"))
          .unionAll(verified.select(lit("v").as("t")))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          .withDefaultValue(0L)
        // closure (eager): reads the verified cache; returns a local
        // labelling at any sane dup rate, or a CacheScope'd
        // distributed frame read once by the result execution below
        (cnt("c"), cnt("v"), connectedComponents(verified))
      } finally { verified.unpersist(); cand.unpersist(); docSets.unpersist() }
    val dropped = comp.where(col("id") =!= col("component")).select(col("id"))
    val kept = docs.select(col(idCol).as("id"))
      .join(dropped, Seq("id"), "left_anti")
      .select(lit("kept").as("stage"), col("id").as("doc_id"),
        lit(null).cast("long").as("n"))
    def c1(stage: String, n: Column) = spark.range(1).select(
      lit(stage).as("stage"), lit(null).cast(idType).as("doc_id"),
      n.cast("long").as("n"))
    val counts = c1("candidates", lit(nCand))
      .unionAll(c1("verified", lit(nVer)))
      .unionAll(comp.agg(countDistinct(col("component")).as("c"))
        .select(lit("clusters").as("stage"), lit(null).cast(idType).as("doc_id"),
          col("c").cast("long").as("n")))
      .unionAll(comp.where(col("id") =!= col("component"))
        .agg(count(lit(1)).as("c"))
        .select(lit("dropped").as("stage"), lit(null).cast(idType).as("doc_id"),
          col("c").cast("long").as("n")))
    kept.unionAll(counts)
  }

  /** LSH candidates verified by EDIT DISTANCE — the character-level
    * sibling of [[lshVerifiedPairsMd5]]: md5-banded MinHash finds the
    * candidate sliver, then Levenshtein similarity
    * `1 − dist/max(len_a, len_b)` over the whitespace-normalized
    * lowercased text confirms. Set-based Jaccard is blind to token
    * ORDER ("a b c d" vs "d c b a" is Jaccard 1.0); edit distance is
    * the verification a pipeline reaches for when reorderings,
    * small insertions, and character-level corruption must count as
    * differences (plagiarism-style near-dup, OCR noise).
    *
    * Scale shape: the O(len²) DP runs ONLY on candidate pairs — the
    * banding bounds the quadratic kernel exactly the way
    * [[lshVerifiedPairsMd5]] bounds set intersection; the verify join
    * moves one normalized string per CANDIDATE doc. The whitespace
    * class is spelled out (RE2/Java common subset), so the
    * normalization is engine-portable byte-for-byte.
    *
    * @return (id_a, id_b, edit_dist, len_a, len_b, edit_sim),
    *         id_a < id_b, edit_sim ≥ threshold
    */
  def lshEditVerifiedPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.95): DataFrame = {
    val cand = minHashLshMd5(docs, textCol, idCol, shingleN, numHashes, bands)
    val norms = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs)
        .select(col(idCol).as("id"),
          trim(regexp_replace(lower(col(textCol)),
            "[ \\t\\n\\u000B\\f\\r]+", " ")).as("norm")))
    // BANDED DP: a pair at sim ≥ τ has dist ≤ (1−τ)·maxlen, so the
    // thresholded Levenshtein computes the exact distance for every
    // pair that can pass and returns −1 (→ filtered, same as the full
    // DP would) for the rest. bound = ⌊(1−τ)·maxlen⌋ + 1 strictly
    // over-covers the double comparison below, so banded output ==
    // full-DP output. Measured (round-12 A/B, 200k 500-char
    // pairs): full DP 14.2-16.1 s, thresholded 8.1-8.7 s — Spark's
    // banded path engages for a per-row threshold column, ~1.9×; the
    // per-pair DP that remains is the verifier's inherent cost (why
    // Jaccard verification stays the default when order-insensitivity
    // is acceptable). The length guard below rejects pairs whose
    // length difference alone exceeds the bound before any DP runs
    // (dist ≥ |len_a − len_b| always).
    val bound = (floor(lit(1.0 - threshold) *
      greatest(length(col("na")), length(col("nb"))).cast("double")) + lit(1.0))
      .cast("int")
    cand
      .join(norms.select(col("id").as("id_a"), col("norm").as("na")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("norm").as("nb")), Seq("id_b"))
      .where(abs(length(col("na")) - length(col("nb"))) <= bound)
      .withColumn("edit_dist",
        call_function("levenshtein", col("na"), col("nb"), bound).cast("long"))
      .where(col("edit_dist") >= 0L)
      .withColumn("len_a", length(col("na")).cast("long"))
      .withColumn("len_b", length(col("nb")).cast("long"))
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(col("len_a"), col("len_b")).cast("double"))
      .where(col("edit_sim") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("edit_dist"), col("len_a"),
        col("len_b"), col("edit_sim"))
  }

  /** Content-defined chunking (CDC) dedup report — the
    * insertion-ROBUST chunking rsync/casync/dedup stores use, and the
    * property d09's fixed-size chunks lack: a one-character insertion
    * shifts every fixed-chunk boundary after it (0 shared digests);
    * CDC boundaries derive from local CONTENT (a rolling window
    * hash), so chunking re-synchronizes within one window length and
    * the rest of the document still dedups.
    *
    * Boundary rule: position i (1-based, i ≥ W) ends a chunk when
    * H(i) ≡ 0 (mod 16), H(i) = Σ_{j<W} ord(c[i−j])·31ʲ mod 2³¹ — a
    * position-independent window hash in exact integer arithmetic,
    * so any engine reproduces the boundaries bit-for-bit (expected
    * chunk ≈ 16 chars; the window re-sync property only needs H to
    * depend on the last W characters). The doc end is always a
    * boundary.
    *
    * Scale shape: chunk boundaries, slices and md5 digests all
    * evaluate INSIDE the scan projection (one imperative code-point
    * scan per document, [[graft.functions.CdcChunkDigests]] — document
    * text never leaves its scan task); the df aggregation and the
    * per-doc rollup exchange (fp, len) pairs only. The kernel replaced
    * a per-position array-HOF hash chain that paid a ~4.5× interpreted-
    * dispatch constant at the 10× smoke scale; the chain survives as
    * [[cdcChunkDedupComposable]], the differential twin Round14Spec
    * pins bit-identical.
    *
    * @return (doc_id, n_chunks, n_dup_chunks, dup_char_ratio) per doc
    *         with ≥ W chars
    */
  def cdcChunkDedup(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 16, modulus: Int = 16): DataFrame = {
    require(window >= 2 && modulus >= 2, "bad cdc params")
    val chunks = graft.ops.ScaleOps.fanOut(docs)
      .where(length(col(textCol)) >= window)
      .select(col(idCol).as("id"),
        explode(graft.functions.CdcExpressions.cdcChunkDigests(
          col(textCol), window, modulus)).as("c"))
      .select(col("id"), col("c.fp").as("fp"), col("c.clen").as("clen"))
    cdcRollup(chunks)
  }

  /** The composable HOF spelling of [[cdcChunkDedup]]'s chunking —
    * boundary window-hashes as array HOFs over the char-code array,
    * digests via `substr` in the same projection. Kept as the
    * engine-portable differential twin of [[graft.functions.CdcChunkDigests]]
    * (the d26 oracle replays this spelling in SQL); ~4.5× slower than
    * the kernel at the 10× smoke scale from per-position interpreted
    * dispatch, so production callers want [[cdcChunkDedup]].
    */
  def cdcChunkDedupComposable(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 16, modulus: Int = 16): DataFrame = {
    require(window >= 2 && modulus >= 2, "bad cdc params")
    val M = 2147483648L // 2^31
    val pows: Seq[Long] = Seq.iterate(1L, window)(p => p * 31 % M)
    val chars = transform(split(col(textCol), ""), c => ascii(c))
    val hAt = (i: Column) => pows.zipWithIndex.map { case (p, j) =>
      element_at(col("ch"), (i - lit(j)).cast("int")).cast("long") * lit(p)
    }.reduce(_ + _) % lit(M)
    val withBounds = graft.ops.ScaleOps.fanOut(docs)
      .where(length(col(textCol)) >= window)
      .select(col(idCol).as("id"), col(textCol).as("t"), chars.as("ch"))
      .withColumn("ends", array_union(
        filter(sequence(lit(window), size(col("ch"))),
          i => hAt(i) % lit(modulus.toLong) === 0L),
        array(size(col("ch")))))
    // chunk k spans (ends[k-1], ends[k]]; digest + length computed in
    // the same projection so text never leaves the scan task
    val chunks = withBounds
      .select(col("id"), explode(transform(col("ends"), (e, k) =>
        struct(
          md5(col("t").substr(
            when(k === 0, lit(1)).otherwise(element_at(col("ends"), k) + 1),
            e - when(k === 0, lit(0)).otherwise(element_at(col("ends"), k))))
            .as("fp"),
          (e - when(k === 0, lit(0)).otherwise(element_at(col("ends"), k)))
            .cast("long").as("clen")))).as("c"))
      .select(col("id"), col("c.fp").as("fp"), col("c.clen").as("clen"))
    cdcRollup(chunks)
  }

  /** Shared (fp, clen) → per-doc dup-accounting rollup for the two
    * [[cdcChunkDedup]] spellings: only these scalar pairs ever cross
    * an exchange.
    */
  private def cdcRollup(chunks: DataFrame): DataFrame = {
    val df = chunks.groupBy(col("fp")).agg(count(lit(1)).as("c"))
    chunks.join(df, Seq("fp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") >= 2L, 1L).otherwise(0L)).as("n_dup_chunks"),
        (sum(when(col("c") >= 2L, col("clen")).otherwise(0L)).cast("double") /
          sum(col("clen")).cast("double")).as("dup_char_ratio"))
      .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_char_ratio"))
  }

  /** MinHash ACCURACY audit — slot-match estimate vs exact Jaccard on
    * every banded candidate pair: est = matching-signature-slots / k
    * is the unbiased Jaccard estimator MinHash is built on (Broder
    * 1997), and this reports its realized per-pair error, the number
    * that justifies a signature size before scaling it 1000×
    * (d19 audits the BANDING's recall; this audits the SIGNATURE's
    * estimate — together they are the two halves of "can I trust
    * k hashes"). Unfiltered: sub-threshold candidates stay, because
    * estimator error on borderline pairs is exactly what matters.
    *
    * Scale shape: d24's — signatures/shingle sets are scan kernels,
    * the slot comparison joins the k-string signature per CANDIDATE
    * doc, the exact leg the shingle-hash array per candidate doc.
    *
    * @return (id_a, id_b, n_match, est_jaccard, exact_jaccard,
    *         abs_err), id_a < id_b
    */
  def minHashAccuracyAudit(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val cand = minHashLshMd5(docs, textCol, idCol, shingleN, numHashes, bands)
    val sig = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      minHashSigMd5(docs, textCol, idCol, shingleN, numHashes))
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs)
        .select(col(idCol).as("id"),
          graft.functions.ShingleHashes(col(textCol), shingleN).as("sh_arr"))
        .where(size(col("sh_arr")) > 0))
    val slotCols = (0 until numHashes)
    def pref(p: String) = sig.select(col("id").as(s"${p}id") +:
      slotCols.map(i => col(s"m$i").as(s"$p$i")): _*)
    val nMatch = slotCols.map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    cand
      .join(pref("a"), col("id_a") === col("aid"))
      .join(pref("b"), col("id_b") === col("bid"))
      .withColumn("n_match", nMatch)
      .select(col("id_a"), col("id_b"), col("n_match"))
      .join(docSets.select(col("id").as("id_a"), col("sh_arr").as("sa")), Seq("id_a"))
      .join(docSets.select(col("id").as("id_b"), col("sh_arr").as("sb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("est_jaccard",
        col("n_match").cast("double") / lit(numHashes.toDouble))
      .withColumn("exact_jaccard",
        col("n_inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double"))
      .select(col("id_a"), col("id_b"), col("n_match"), col("est_jaccard"),
        col("exact_jaccard"),
        abs(col("est_jaccard") - col("exact_jaccard")).as("abs_err"))
  }

  /** LSH band-shape planner — for each candidate (bands, rows) split
    * of the signature, the expected false-positive / false-negative
    * counts and recall at the target Jaccard threshold, evaluated
    * against the corpus's MEASURED pair-similarity population (the
    * [[minHashAccuracyAudit]] candidates): collision probability at
    * similarity s is p(s) = 1 − (1 − s^r)^b (the classic S-curve,
    * Leskovec/Rajaraman/Ullman MMDS ch.3), so exp_fp = Σ_{s<τ} p(s),
    * exp_fn = Σ_{s≥τ} (1 − p(s)). The planner every LSH deployment
    * runs before committing a band shape — d19 audits the SHIPPED
    * banding's realized recall; this PREDICTS every candidate shape
    * from one measurement pass. Config rows with no qualifying pairs
    * still report (driven from the config list, the d29 pattern).
    *
    * Powers are spelled as binary-doubling multiplication chains
    * (s², s⁴=s²·s², …) — bit-identical to the oracle's spelling with
    * no libm pow — so bands/rows must be powers of two.
    *
    * Population caveat: the measured pairs are CONDITIONED on the
    * audit banding — true pairs the `auditBands` shape itself missed
    * never enter the sums, so for candidate shapes MORE permissive
    * than the audit shape, recall_at_tau is an UPPER bound (exp_fn a
    * lower bound); shapes at-or-stricter are unbiased. For an
    * unconditioned population, source pairs from an exact-Jaccard
    * pass above a floor the way [[lshRecallReport]] (d19) does.
    *
    * Scale shape: the audit's one banded-candidate pass; the config
    * sweep is arithmetic on a |configs|-row broadcast.
    *
    * @return (bands, rows_per_band, n_below, n_above, exp_fp, exp_fn,
    *         recall_at_tau), one row per config (unsorted — callers
    *         order); recall null when no pair reaches τ
    */
  def lshBandPlanner(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 8, auditBands: Int = 4,
      configs: Seq[(Int, Int)] = Seq((1, 8), (2, 4), (4, 2), (8, 1)),
      tau: Double = 0.5): DataFrame = {
    require(configs.nonEmpty, "configs must be non-empty")
    configs.foreach { case (b, r) =>
      require(b * r == numHashes, s"config ($b,$r) must multiply to $numHashes")
      require((b & (b - 1)) == 0 && (r & (r - 1)) == 0,
        s"bands/rows must be powers of two for the chain spelling, got ($b,$r)")
    }
    require(configs.map(_._1).distinct.size == configs.size,
      "band counts must be distinct (they key the probability arm)")
    // x^(2^k) by repeated squaring — the same association as the
    // oracle's u2=u*u, u4=u2*u2, ... spelling
    def chainPow(c: Column, n: Int): Column =
      if (n == 1) c else chainPow(c * c, n / 2)
    def pOf(b: Int, r: Int): Column = {
      val sr = chainPow(col("s"), r)
      if (b == 1) sr else lit(1.0) - chainPow(lit(1.0) - sr, b)
    }
    val pairs = minHashAccuracyAudit(docs, textCol, idCol, shingleN,
        numHashes, auditBands)
      .select(col("exact_jaccard").as("s"))
    val session = docs.sparkSession
    val cfg = session.createDataFrame(configs)
      .toDF("bands", "rows_per_band")
      .select(col("bands").cast("long").as("bands"),
        col("rows_per_band").cast("long").as("rows_per_band"))
    val pExpr = configs.tail.foldLeft(
        when(col("bands") === configs.head._1.toLong,
          pOf(configs.head._1, configs.head._2))) {
      case (acc, (b, r)) => acc.when(col("bands") === b.toLong, pOf(b, r))
    }
    val agg = pairs.crossJoin(broadcast(cfg))
      .withColumn("p", pExpr)
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(
        sum(when(col("s") < tau, 1L).otherwise(0L)).as("nb"),
        sum(when(col("s") >= tau, 1L).otherwise(0L)).as("na"),
        round(coalesce(sum(when(col("s") < tau, col("p"))), lit(0.0)), 6)
          .as("fp"),
        round(coalesce(sum(when(col("s") >= tau, lit(1.0) - col("p"))),
          lit(0.0)), 6).as("fn"),
        sum(when(col("s") >= tau, col("p"))).as("pa"))
    cfg.join(broadcast(agg), Seq("bands", "rows_per_band"), "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("nb"), lit(0L)).as("n_below"),
        coalesce(col("na"), lit(0L)).as("n_above"),
        coalesce(col("fp"), lit(0.0)).as("exp_fp"),
        coalesce(col("fn"), lit(0.0)).as("exp_fn"),
        when(coalesce(col("na"), lit(0L)) > 0L,
          round(col("pa") / col("na").cast("double"), 6)).as("recall_at_tau"))
  }

  /** MinHash signature-SIZE sweep — realized estimator error (mean
    * abs / RMSE / worst case vs exact Jaccard) at every candidate
    * signature size, from ONE maxK-slot signature pass: hash i of a
    * k-slot signature is hash i of any longer signature (the hash
    * family is indexed, not sized), so the k-slot estimate is a
    * PREFIX match count and the whole sweep is arithmetic on one
    * signature join. The "how many hashes do I need" planner beside
    * [[lshBandPlanner]]'s "how do I band them" — d28 audits the
    * shipped k; this prices every k before committing one (error
    * should fall ~1/√k, Broder 1997).
    *
    * Scale shape: d28's — one banded candidate pass, one maxK-slot
    * signature join, one exact-Jaccard leg; the k sweep explodes
    * |ks| scalar rows per pair.
    *
    * @return (k, n_pairs, mean_abs_err, rmse, max_abs_err), one row
    *         per k (unsorted — callers order); error columns null
    *         when no candidate pairs exist
    */
  def minHashSizeSweep(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, ks: Seq[Int] = Seq(4, 8, 16),
      candidateHashes: Int = 8, auditBands: Int = 4): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct == ks,
      "ks must be sorted distinct")
    val maxK = ks.max
    val cand = minHashLshMd5(docs, textCol, idCol, shingleN,
      candidateHashes, auditBands)
    val sig = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      minHashSigMd5(docs, textCol, idCol, shingleN, maxK))
    val docSets = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(docs)
        .select(col(idCol).as("id"),
          graft.functions.ShingleHashes(col(textCol), shingleN).as("sh_arr"))
        .where(size(col("sh_arr")) > 0))
    def pref(p: String) = sig.select(col("id").as(s"${p}id") +:
      (0 until maxK).map(i => col(s"m$i").as(s"$p$i")): _*)
    def nMatch(k: Int) = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val exact = col("n_inter").cast("double") /
      (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double")
    val errStructs = ks.map(k => struct(lit(k.toLong).as("k"),
      abs(nMatch(k).cast("double") / lit(k.toDouble) - exact).as("err")))
    val errs = cand
      .join(pref("a"), col("id_a") === col("aid"))
      .join(pref("b"), col("id_b") === col("bid"))
      .join(docSets.select(col("id").as("id_a"), col("sh_arr").as("sa")), Seq("id_a"))
      .join(docSets.select(col("id").as("id_b"), col("sh_arr").as("sb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .select(explode(array(errStructs: _*)).as("e"))
      .select(col("e.k").as("k"), col("e.err").as("err"))
    val agg = errs.groupBy(col("k")).agg(
      count(lit(1)).as("np"),
      round(avg(col("err")), 6).as("mean_abs_err"),
      round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"),
      max(col("err")).as("max_abs_err"))
    val ksDf = docs.sparkSession.createDataFrame(ks.map(k => Tuple1(k.toLong)))
      .toDF("k")
    ksDf.join(broadcast(agg), Seq("k"), "left")
      .select(col("k"), coalesce(col("np"), lit(0L)).as("n_pairs"),
        col("mean_abs_err"), col("rmse"), col("max_abs_err"))
  }

  /** Containment-threshold curve — per candidate containment
    * threshold, how many directed (sub ⊂ super) pairs fire and how
    * many DISTINCT documents a containment-dedup pass would drop
    * (a doc drops when ANY super contains it at ≥ τ, so the doc leg
    * is a histogram over each doc's max containment — the d29 trick
    * on [[containmentPairs]]'s population). Containment catches the
    * quote/subset duplicates Jaccard dilutes away; this is the curve
    * read before fixing d07's τ. Zero-hit thresholds still report
    * (driven from the threshold list).
    *
    * Scale shape: ONE inverted-index pair pass at τ_min; the sweep is
    * a |thresholds|-row broadcast over (id_sub, containment) scalars.
    *
    * `maxPostings` defaults to the capped path like every other
    * pair-emitting API: the round-10 smoke proved an uncapped posting
    * list inside a cached pair plan is an 8 GiB-broadcast hard-fail
    * at scale (see [[dedupImpactReport]]). Pass `None` only for
    * sf-scale exact oracles (the declared d32 query does).
    *
    * @return (threshold, n_pairs, n_docs_dropped, drop_frac), one row
    *         per threshold (unsorted — callers order)
    */
  def containmentCurve(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, thresholds: Seq[Double] = Seq(0.5, 0.7, 0.8, 0.9, 0.95),
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted &&
      thresholds.distinct == thresholds, "thresholds must be sorted distinct")
    val base = containmentPairs(docs, textCol, idCol, n, thresholds.min,
        maxPostings)
      .select(col("id_sub"), col("containment"))
    val tDf = docs.sparkSession.createDataFrame(thresholds.map(Tuple1(_)))
      .toDF("threshold")
    val tot = docs.agg(count(lit(1)).cast("double").as("nd"))
    val agg = base.crossJoin(broadcast(tDf))
      .where(col("containment") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("np"),
        countDistinct(col("id_sub")).as("ndrop"))
    tDf.join(broadcast(agg), Seq("threshold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("ndrop"), lit(0L)).as("n_docs_dropped"),
        (coalesce(col("ndrop"), lit(0L)).cast("double") / col("nd"))
          .as("drop_frac"))
  }

  /** Jaccard-threshold curve for the CORE n-gram dedup — per
    * candidate τ: qualifying pair count and the DISTINCT docs d11's
    * keep-min-id convention would drop (a doc drops when paired with
    * a SMALLER id at ≥ τ, so the doc leg is a histogram over each
    * doc's max Jaccard to a smaller-id partner — the d29 trick).
    * Completes the threshold-curve set: one calibration sweep per
    * dedup family (semantic d29, banding d30, signature size d31,
    * containment d32, and now the exact-Jaccard τ behind
    * d02/d06/d11).
    *
    * Scale shape: ONE inverted-index pair pass at τ_min; the sweep is
    * a |thresholds|-row broadcast over (id_b, jaccard) scalars.
    *
    * Note: drop counts here are PRE-closure (direct pairs). The
    * transitive closure can only drop more; [[dedupImpactReport]]
    * gives the closed accounting at one τ.
    *
    * @return (threshold, n_pairs, n_docs_dropped, drop_frac), one row
    *         per threshold (unsorted — callers order)
    */
  def jaccardThresholdCurve(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, thresholds: Seq[Double] = Seq(0.2, 0.3, 0.5, 0.7, 0.9),
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted &&
      thresholds.distinct == thresholds, "thresholds must be sorted distinct")
    val base = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      ngramJaccardPairs(docs, textCol, idCol, n, thresholds.min, maxPostings)
        .select(col("id_b"), col("jaccard")))
    val mx = base.groupBy(col("id_b")).agg(max(col("jaccard")).as("m"))
    val tDf = docs.sparkSession.createDataFrame(thresholds.map(Tuple1(_)))
      .toDF("threshold")
    val tot = docs.agg(count(lit(1)).cast("double").as("nd"))
    val pagg = base.crossJoin(broadcast(tDf))
      .where(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("np"))
    val dagg = mx.crossJoin(broadcast(tDf))
      .where(col("m") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("ndrop"))
    tDf.join(broadcast(pagg), Seq("threshold"), "left")
      .join(broadcast(dagg), Seq("threshold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("ndrop"), lit(0L)).as("n_docs_dropped"),
        (coalesce(col("ndrop"), lit(0L)).cast("double") / col("nd"))
          .as("drop_frac"))
  }

  /** 32-bit SimHash over md5-derived bits — the oracle twin of
    * [[simHash]] (the d12/s16 move for the SimHash family): bit j of
    * a token is bit (j mod 4) of hex digit (j div 4) of md5(token),
    * and the signature sets bit j when strictly more distinct tokens
    * have it set than clear. Every step is INTEGER arithmetic on both
    * engines (hex-digit position lookup, shift, mask, majority
    * compare), so d13 hash-matches with no rounding anywhere. The
    * xxhash64 kernel ([[simHash]]) stays the scale path — this
    * formulation shuffles (id, bit) rows where the kernel shuffles
    * nothing.
    */
  def simHashMd5(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // distinct IS semantic here (strict majority over the token SET);
    // the per-bit sums then ride as 32 aggregate columns over ONE
    // doc-keyed exchange. The 32 bits come from ONE integer — the
    // first 8 md5 hex digits parsed with conv — so each bit is a
    // shift+mask on a long, not a substring+position lambda element:
    // bit j = bit (j%4) of hex digit (j div 4), and digit p sits at
    // bits [4*(7-p), 4*(7-p)+3] of the parsed value (digits are
    // most-significant-first in the hex string). Same bit mapping as
    // the per-character oracle spelling, proven by the hash compare.
    val toks = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok")).distinct()
    val withV = toks.withColumn("v",
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val aggs = count(lit(1)).as("n") +:
      (0 until 32).map { j =>
        val shift = 4 * (7 - j / 4) + (j % 4)
        sum(expr(s"shiftright(v, $shift) % 2")).as(s"s$j")
      }
    val sums = withV.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val simhash = (0 until 32).map(j =>
      when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    sums.select(col("id"), simhash.as("simhash32"))
  }

  /** 64-bit SimHash signature per document: for each bit j, sum ±1
    * over token hashes and take the sign — computed by the one-pass
    * [[graft.functions.SketchExpressions.SimHash64]] kernel inside
    * the scan stage. Zero shuffle: each executor core sketches its
    * own splits and only the 8-byte signatures move. Docs with no
    * tokens are dropped (kernel returns null), matching the exploded
    * formulation [[simHashAgg]] where they produce no rows.
    */
  def simHash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"),
        graft.functions.SketchExpressions.simHash64(col(textCol)).as("simhash"))
      .where(col("simhash").isNotNull)

  /** The exploded reference formulation of [[simHash]] (token explode
    * + 64 bit-count aggregates). Kept as the semantics the kernel is
    * differentially tested against — bit-identical output.
    */
  def simHashAgg(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .select(col("id"), xxhash64(col("tok")).as("h"))
    // bit j of the signature: sign of Σ_tokens (±1) = (2·cnt_j > n)
    // where cnt_j counts tokens with bit j set. One groupBy with 64
    // bit-count aggregates — no 64× row explosion, map-side partials
    // carry (n, cnt_0..cnt_63) per id.
    val bitCounts = (0 until 64).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"c$j"))
    val counted = toks.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitCounts: _*)
    val sig = (0 until 64).map(j =>
      when(col(s"c$j") * 2 > col("n"), shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_ + _)
    counted.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming
    * (≤ 3 guaranteed-recall with the 4×16-bit band blocking;
    * pigeonhole: ≤3 differing bits cannot hit all 4 bands).
    */
  def simHashPairs(
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    // scoped cache: both sides of the band join read the signatures;
    // self-releases after the result's first execution
    val sig = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      simHash(docs, textCol, idCol))
    val banded = sig.select(
      col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("bv"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    val l = banded.select(col("band"), col("bv"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val r = banded.select(col("band"), col("bv"), col("id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("band", "bv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= lit(maxHamming))
  }

  /** Connected components over an undirected near-dup edge list
    * (`id_a`, `id_b`) — the "keep one per duplicate CLUSTER" step
    * that follows pair generation: transitive closure groups A~B~C
    * into one cluster even when A and C were never directly paired,
    * so downstream keeps exactly one representative per cluster
    * instead of dropping both endpoints of every pair.
    *
    * Algorithm: hash-min label propagation (the standard MapReduce
    * connected-components formulation). Every vertex starts labelled
    * with its own id; each round replaces a vertex's label with the
    * min over itself and its neighbours; at fixpoint every vertex
    * carries its component's minimum id. Each round is one
    * equi-join + one groupBy — both hash-partitioned on vertex id,
    * nothing driver-side but the convergence counter — and the round
    * count is the cluster diameter (near-dup clusters are shallow:
    * single digits in practice). At 100 TB the edge list holds only
    * near-dup *pairs*, orders of magnitude smaller than the corpus,
    * and the shuffle rows are bare (long, long) tuples.
    *
    * Hybrid (the RecursiveCte pattern): a dedup pair graph is tiny
    * relative to the corpus by construction — sane thresholds emit
    * near-dup pairs, not the cross product — so under `localEdgeLimit`
    * edges the graph is collected and solved with driver union-find
    * (O(E·α), zero cluster rounds, returns a LocalRelation). Past the
    * limit it falls back to the distributed propagation, whose
    * converged labelling is likewise localized when small so the
    * per-round caches are released.
    *
    * Output: (id, component) where component = min id reachable.
    */
  /** Dedup IMPACT report — the before-you-commit accounting every
    * dedup deployment reads first: the near-dup cluster-size
    * histogram (how much of the corpus sits in 2-doc pairs vs
    * monster spam cliques) with docs-removable counts per size, plus
    * the size-1 row for untouched docs — n_docs sums to the corpus,
    * n_removable is exactly what d11 would delete. One rollup over
    * the d06 closure (component-keyed counts), corpus work is the
    * pair graph it already shares with d06/d11/d22.
    *
    * `maxPostings` defaults to the capped path like [[dedupedCorpus]]:
    * the uncapped default was a REAL scale bug — at 10× smoke scale a
    * hot shingle's uncapped posting list fans out m²/2 pre-threshold
    * pairs, and the statically-planned join inside the closure's
    * cached pair frame then tries to broadcast the exploded side
    * (hard-fails at Spark's 8 GiB broadcast ceiling). Pass None only
    * where exactness beats robustness (the sf-scale oracle).
    *
    * @return (cluster_size, n_clusters, n_docs, n_removable), one row
    *         per size (unsorted — callers order)
    */
  def dedupImpactReport(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.3,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val pairs = ngramJaccardPairs(docs, textCol, idCol, n, threshold,
      maxPostings)
    val comp = connectedComponents(pairs)
    val hist = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1L) * col("n_clusters")).as("n_removable"))
    val singletons = docs.agg(count(lit(1)).as("ntot"))
      .crossJoin(broadcast(comp.agg(count(lit(1)).as("ncl"))))
      .select(lit(1L).as("cluster_size"),
        (col("ntot") - col("ncl")).as("n_clusters"),
        (col("ntot") - col("ncl")).as("n_docs"),
        lit(0L).as("n_removable"))
      .where(col("n_clusters") > 0L)
    hist.unionAll(singletons)
  }

  /** Post-dedup TOKEN budget per source — the headline number a
    * training run reads off a dedup pass: how many of each source's
    * tokens survive keep-min-id dedup at τ. Pairs the d27 impact
    * histogram (docs and clusters) with the unit data budgets are
    * actually denominated in (tokens, t03's whitespace count), and
    * feeds t49's budget select / t10's source mix with post-dedup
    * numbers instead of raw ones.
    *
    * Scale shape: ONE pair pass + closure (d11's work — capped
    * postings by default), then one corpus scan computing per-doc
    * token counts with the loser-id frame joined (cluster-loser-
    * sized, AQE-broadcast); the rollup exchanges |sources| scalar
    * rows.
    *
    * @return (source, n_docs, n_docs_kept, n_tokens, n_tokens_kept,
    *         token_keep_frac) — frac rounded 6 dp, null for
    *         token-free sources
    */
  def dedupTokenBudgetReport(docs: DataFrame, textCol: String, idCol: String,
      srcCol: String, n: Int = 3, threshold: Double = 0.3,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val losers = connectedComponents(
        ngramJaccardPairs(docs, textCol, idCol, n, threshold, maxPostings)
          .select(col("id_a"), col("id_b")))
      .where(col("id") =!= col("component"))
      .select(col("id").as("__lid"))
    docs
      .select(col(srcCol).as("source"), col(idCol).as("__id"),
        graft.pipeline.TextAnalysis.tokenCount(col(textCol)).as("__nt"))
      .join(losers, col("__id") === col("__lid"), "left")
      .select(col("source"), col("__nt"), col("__lid").isNull.as("__kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(col("__nt")).as("n_tokens"),
        sum(when(col("__kept"), col("__nt")).otherwise(0L)).as("n_tokens_kept"))
      .withColumn("token_keep_frac",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_tokens_kept").cast("double") /
            col("n_tokens").cast("double"), 6)))
  }

  /** Dup-rate by quality decile — the curation cross-tab read before
    * choosing between quality filtering and dedup (they overlap: spam
    * is both low-quality and heavily duplicated; if the bottom decile
    * carries most of the dup mass, a quality gate gets the dedup
    * nearly for free, and vice versa). Buckets every doc into quality
    * deciles (t02's heuristic score, NTILE over (score, id) — the t43
    * exact-cut contract) and reports each decile's doc count,
    * dedup-dropped count (d11's keep-min-id convention over the
    * closure), drop fraction, and DECIMAL-exact mean quality.
    *
    * Scale shape: the quality score is a scan-stage projection; the
    * dedup side is d06/d11's pair + closure work; the NTILE is one
    * global sort over per-doc (score, id) scalars (the t43/t49
    * oracle-able contract — swap for approx_percentile boundaries at
    * 100 TB) and the rollup is `bins` rows.
    *
    * @return (bin, n_docs, n_dropped, drop_frac, mean_quality), one
    *         row per decile (unsorted — callers order)
    */
  def qualityDedupReport(docs: DataFrame, textCol: String, idCol: String,
      bins: Int = 10, n: Int = 3, threshold: Double = 0.3,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    require(bins > 0, "bins must be positive")
    val losers = connectedComponents(
        ngramJaccardPairs(docs, textCol, idCol, n, threshold, maxPostings)
          .select(col("id_a"), col("id_b")))
      .where(col("id") =!= col("component"))
      .select(col("id").as("__lid"))
    val scored = docs.select(col(idCol).as("__id"),
      round(graft.pipeline.TextAnalysis.qualityScore(col(textCol)), 6).as("q"))
    // two-pass range ntile keyed by the round-6 quality value — no
    // corpus-sized single-partition sort (TextAnalysis.globalNtile
    // treatment); bin values identical
    graft.ops.WindowOps.globalNtile(scored,
        key = col("q"), keyDesc = false, ties = Seq(col("__id")),
        buckets = bins, out = "bin")
      .join(losers, col("__id") === col("__lid"), "left")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__lid").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(col("q").cast("decimal(18,6)")).as("__qsum"))
      .select(col("bin").cast("long").as("bin"),
        col("n_docs"), col("n_dropped"),
        (col("n_dropped").cast("double") / col("n_docs").cast("double"))
          .as("drop_frac"),
        (col("__qsum").cast("double") / col("n_docs").cast("double"))
          .as("mean_quality"))
  }

  /** Split LEAKAGE audit — per source, how many VAL docs have a
    * near-duplicate (n-gram Jaccard ≥ τ) in TRAIN. The eval-hygiene
    * check run on any split that was NOT built leakage-safe (random
    * and hash splits both cut straight through near-dup clusters —
    * the failure t40's cluster-keyed split exists to prevent); a
    * nonzero leak_frac here means val scores are partly memorization.
    *
    * Scale shape: [[incrementalNearDupPairs]]'s — the train corpus
    * scans once with the val split's shingles broadcast (val is the
    * small side by construction), pair work is bounded by the capped
    * posting lists, and the rollup is |sources| rows.
    *
    * @return (source, n_val, n_leaked, leak_frac), one row per source
    *         present in val (unsorted — callers order)
    */
  def splitLeakageBySource(train: DataFrame, valSplit: DataFrame,
      textCol: String, idCol: String, srcCol: String,
      n: Int = 3, tau: Double = 0.3,
      maxCorpusPostings: Option[Int] = Some(10000)): DataFrame = {
    val leaked = incrementalNearDupPairs(valSplit, train, textCol, idCol,
        n, tau, maxCorpusPostings)
      .select(col("new_id").as("__lid"))
      .distinct()
    valSplit
      .select(col(srcCol).as("source"), col(idCol).as("__id"))
      .join(leaked, col("__id") === col("__lid"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_val"),
        sum(when(col("__lid").isNotNull, 1L).otherwise(0L)).as("n_leaked"))
      .select(col("source"), col("n_val"), col("n_leaked"),
        (col("n_leaked").cast("double") / col("n_val").cast("double"))
          .as("leak_frac"))
  }

  /** REPAIR the split [[splitLeakageBySource]] audits: every val doc
    * with a near-duplicate (n-gram Jaccard ≥ τ) in train MOVES to
    * train — the cheap post-hoc fix for a split that was not built
    * leakage-safe (the alternative, re-splitting with
    * [[graft.pipeline.Sampling.leakageSafeSplit]], reshuffles every
    * doc and invalidates downstream artifacts; moving only the leaked
    * sliver preserves the rest of the assignment). Val shrinks; what
    * remains measures generalization instead of memorization.
    *
    * Scale shape: [[incrementalNearDupPairs]]'s — the train corpus
    * scans once with the val split's shingles broadcast; the output
    * is the input split plus a flag join against the leaked-ids
    * sliver (AQE-broadcast), so document text never reshuffles.
    *
    * @return (idCol, srcCol, split ∈ train|val, moved 0/1) — one row
    *         per doc across both inputs (unsorted — callers order)
    */
  def repairLeakedSplit(train: DataFrame, valSplit: DataFrame,
      textCol: String, idCol: String, srcCol: String,
      n: Int = 3, tau: Double = 0.3,
      maxCorpusPostings: Option[Int] = Some(10000)): DataFrame = {
    val leaked = incrementalNearDupPairs(valSplit, train, textCol, idCol,
        n, tau, maxCorpusPostings)
      .select(col("new_id").as("__lid"))
      .distinct()
    val t = train.select(col(idCol), col(srcCol),
      lit("train").as("split"), lit(0L).as("moved"))
    val v = valSplit.select(col(idCol), col(srcCol))
      .join(leaked, col(idCol) === col("__lid"), "left")
      .select(col(idCol), col(srcCol),
        when(col("__lid").isNotNull, "train").otherwise("val").as("split"),
        when(col("__lid").isNotNull, 1L).otherwise(0L).as("moved"))
    t.unionByName(v)
  }

  /** Cluster FIDELITY audit — per dup cluster, how tight the evidence
    * that formed it is: member count, direct-pair count, min/max/mean
    * Jaccard of the qualifying pairs, the possible-pair count and the
    * edge density. The read before trusting transitive closure at a
    * given τ: a big cluster glued together by a chain of barely-τ
    * pairs (low min_jaccard, low density) is a different release
    * decision than a dense clique of 0.95s — chains over-merge, and
    * this report is where that shows.
    *
    * Scale shape: one capped pair pass (d02's inverted-index shape),
    * the eager closure, then a pair-keyed join to the labelling and a
    * cluster-count-sized rollup. The pair frame is materialized fully
    * before the closure's partial probes (the m23 discipline) and
    * stays cached for the result legs — scoped AFTER the closure so
    * only the caller's single execution releases it. Jaccards are
    * rounded 6 dp and mean-aggregated through DECIMAL (the t43
    * order-independence discipline).
    *
    * @return (cluster_rep, cluster_size, n_pairs, min_jaccard,
    *         max_jaccard, mean_jaccard, n_possible, density), one row
    *         per cluster (unsorted — callers order)
    */
  def clusterFidelityReport(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.3,
      maxPostings: Option[Int] = Some(10000)): DataFrame = {
    val pairs = ngramJaccardPairs(docs, textCol, idCol, n, threshold, maxPostings)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
      .cache()
    pairs.count(): Unit // materialize fully before the closure's probes
    val comp = connectedComponents(pairs.select(col("id_a"), col("id_b")))
    // the pair cache also feeds the fidelity legs of the result plan —
    // scoped only now, after the eager closure
    org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUseExisting(pairs)
    val csize = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val pagg = pairs
      .join(comp.select(col("id").as("id_a"), col("component")), Seq("id_a"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("j")).as("min_jaccard"),
        max(col("j")).as("max_jaccard"),
        sum(col("j").cast("decimal(18,6)")).as("__js"))
    csize.join(pagg, Seq("component"))
      .withColumn("n_possible",
        (col("cluster_size") * (col("cluster_size") - lit(1)) / lit(2))
          .cast("long"))
      .select(col("component").as("cluster_rep"), col("cluster_size"),
        col("n_pairs"), col("min_jaccard"), col("max_jaccard"),
        (col("__js").cast("double") / col("n_pairs").cast("double"))
          .as("mean_jaccard"),
        col("n_possible"),
        (col("n_pairs").cast("double") / col("n_possible").cast("double"))
          .as("density"))
  }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      localEdgeLimit: Int = 100000): DataFrame = {
    val spark = pairs.sparkSession
    // cache the (possibly expensive) pair plan once: the probe, and on
    // the distributed path both branches of the symmetric union, would
    // otherwise each recompute it from scratch
    val base = pairs
      .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .cache()
    try {
      val probeEdges = base.limit(localEdgeLimit + 1).collect()
      if (probeEdges.length <= localEdgeLimit) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          // iterative two-pass path compression: no recursion depth risk
          var r = x
          while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        probeEdges.foreach { e =>
          val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("component",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val rows = parent.keys.toSeq.map(v =>
          org.apache.spark.sql.Row(v, find(v)))
        return spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      }
      distributedComponentsWithRounds(base, maxIter, localEdgeLimit)._1
    } finally base.unpersist()
  }

  /** The distributed closure behind [[connectedComponents]]; `base`
    * is the cached (id_a, id_b) long edge frame. Label propagation
    * (hash-min) with a POINTER JUMP each round: first the classic
    * neighbourhood step c(v) := min(c(v), min over neighbours u of
    * c(u)), then the shortcut c(v) := min(c(v), c(c(v))) — labels are
    * always ids of vertices in the same component (min of member ids
    * is a member id; a member's label is a member id) and only ever
    * decrease, so the fixpoint is exactly the min-id labelling plain
    * hash-min produced (bit-identical output). The jump is what
    * collapses convergence from O(diameter) to O(log diameter)
    * rounds: each round roughly doubles how far a label has travelled
    * toward its component's root, so a 500-long chain — the REAL
    * shape of incremental-edit dup graphs (doc1~doc2~…~docN with no
    * shortcut edges) — converges in ~10 rounds where plain hash-min
    * burned a 50-round cap and then threw (round-11 verdict item #2;
    * the `maxIter` guard remains, but pointer jumping puts every
    * physically-possible graph orders of magnitude inside it:
    * 50 rounds cover diameters around 2^49).
    *
    * Per-round caches are released via try/finally even when the
    * convergence guard throws; the returned frame is either a
    * LocalRelation (small labelling — the caches are all released)
    * or, for a genuinely huge labelling, the final cached frame,
    * scoped via [[org.apache.spark.sql.graftbridge.CacheScope]] to
    * self-release after the caller's first execution. Reliable
    * checkpoint files are deleted as soon as they are superseded
    * (each lineage cut obsoletes the previous cut's files), and the
    * final file is deleted with the result — in the finally when the
    * labelling localizes, or by the CacheScope release hook when it
    * stays distributed — so a long-lived server session running
    * closure-heavy queries accumulates no checkpoint-dir garbage.
    *
    * @return (labelling, rounds) — rounds includes the final
    *         fixpoint-detection round (the one that observes zero
    *         changes)
    */
  private[graft] def distributedComponentsWithRounds(base: DataFrame,
      maxIter: Int, localRowLimit: Int): (DataFrame, Int) = {
    val spark = base.sparkSession
    val edges = base.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(base.select(col("id_b").as("u"), col("id_a").as("v")))
      .cache()
    // Per-round lineage control WITHOUT giving up fault tolerance:
    // the loop references each round's frames more than once and
    // cache substitution is execution-time only, so plain caches
    // would leave a LOGICAL plan that doubles every round — 2^k
    // copies of the caller's pair plan by round k, and the listener
    // bus's plan description OOMed the driver in the 10× smoke
    // (m22's large DFT pair plan × a multi-round graph). Each round
    // therefore caches its frames AND feeds the next step through a
    // FLAT LogicalRDD view over the cached Dataset's RDD: the logical
    // plan stays one step deep, while a lost cache block still
    // recomputes through the physical lineage (an InMemoryTableScan
    // falls back to its child; the RDD chain links round k to round
    // k−1) — unlike a localCheckpoint, whose blocks are unrecoverable
    // on executor loss. Superseded rounds unpersist deterministically.
    def flat(ds: DataFrame): DataFrame =
      spark.createDataFrame(ds.asInstanceOf[
        org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].rdd,
        ds.schema)
    def deleteCkpt(file: String): Unit = try {
      val path = new org.apache.hadoop.fs.Path(file)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true): Unit
    } catch { case _: Throwable => () }
    var prevCkptFile: Option[String] = None
    var currentCached = edges.select(col("u").as("id"))
      .distinct()
      .select(col("id"), col("id").as("component"))
      .cache()
    currentCached.count(): Unit // materialize before the flat view reads it
    var current = flat(currentCached)
    var returnedDistributed = false
    try {
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        // 1. propagate: min label among the neighbourhood. Every
        // vertex appears as v in the symmetric edge list, so the join
        // is total (no left join / coalesce needed).
        val nbrMin = edges
          .join(current.select(col("id").as("u"), col("component")), Seq("u"))
          .groupBy(col("v").as("id"))
          .agg(min(col("component")).as("nbr_min"))
        val propC = current.join(nbrMin, Seq("id"))
          .select(col("id"),
            least(col("component"), col("nbr_min")).as("component"),
            (col("nbr_min") < col("component")).as("chg"))
          .cache()
        propC.count(): Unit // materialize: the jump reads it twice
        val prop = flat(propC)
        // 2. pointer jump: c(v) := min(c(v), c(c(v))). Left join +
        // coalesce only for invariant robustness — every label is a
        // vertex id present in the labelling, so the lookup is total.
        val next = prop.join(
            prop.select(col("id").as("component"), col("component").as("__jmp")),
            Seq("component"), "left")
          .select(col("id"),
            least(col("component"),
              coalesce(col("__jmp"), col("component"))).as("component"),
            (col("chg") ||
              coalesce(col("__jmp"), col("component")) < col("component"))
              .as("chg"))
          .cache()
        changed = next.where(col("chg")).count()
        propC.unpersist()
        currentCached.unpersist()
        currentCached = next
        current = flat(next).select(col("id"), col("component"))
        iter += 1
        // every few rounds cut the PHYSICAL lineage too: the flat view
        // bounds the logical plan, but the round chain still deepens
        // the serialized RDD object graph and a deep chain overflowed
        // task DEserialization (StackOverflowError) in the 10× m22
        // smoke. Reliable checkpoint when the session has a checkpoint
        // dir (the production setting — SessionManager defaults one at
        // bootstrap; survives executor loss); localCheckpoint
        // otherwise, which is exactly safe in local mode where no
        // separate executor can be lost. The RDD-level spelling (vs
        // Dataset.checkpoint) exposes getCheckpointFile, so superseded
        // checkpoint files can be deleted the moment the next cut
        // materializes instead of accumulating for the session's life.
        if (iter % 8 == 0) {
          val rdd = currentCached.asInstanceOf[
            org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].rdd
          if (spark.sparkContext.getCheckpointDir.isDefined) rdd.checkpoint()
          else rdd.localCheckpoint()
          rdd.count(): Unit // materialize the cut through the hot cache
          val cut = spark.createDataFrame(rdd, currentCached.schema)
          // nothing references the previous cut's files once this cut
          // is materialized (local checkpoints return no file)
          rdd.getCheckpointFile.foreach { f =>
            prevCkptFile.foreach(deleteCkpt)
            prevCkptFile = Some(f)
          }
          currentCached.unpersist()
          currentCached = cut
          current = cut.select(col("id"), col("component"))
        }
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "with pointer jumping this covers graph diameters around " +
            "2^" + (maxIter - 1) + ", so a non-convergence here means " +
            "label corruption, not a big graph")
      val labels = currentCached.select(col("id"), col("component"))
      // localize small results so the per-round caches don't outlive
      // the call: possible even past the edge limit when the graph is
      // dense (many edges over few vertices)
      val probe = labels.limit(localRowLimit + 1).collect()
      if (probe.length <= localRowLimit) {
        (spark.createDataFrame(
          java.util.Arrays.asList(probe: _*), labels.schema), iter)
      } else {
        returnedDistributed = true
        // a genuinely huge labelling stays distributed and cached, but
        // the "caller owns the unpersist" contract was honored by no
        // caller — scope it instead: the cache self-releases after the
        // caller's first (and per the server contract, only)
        // execution, and the release hook drops the final checkpoint
        // files with it. cache() is a no-op when already cached and
        // (re-)registers the entry when the last loop action was a
        // lineage cut (whose flat view is NOT cached).
        currentCached = currentCached.cache()
        val ckpt = prevCkptFile
        org.apache.spark.sql.graftbridge.CacheScope
          .releaseAfterUseExisting(currentCached,
            () => ckpt.foreach(deleteCkpt))
        (currentCached.select(col("id"), col("component")), iter)
      }
    } finally {
      edges.unpersist()
      // keep the final cache + checkpoint alive only when they back
      // the returned distributed labelling (CacheScope releases both
      // after first use); release them on localization and on any
      // exception path
      if (!returnedDistributed) {
        currentCached.unpersist()
        prevCkptFile.foreach(deleteCkpt)
      }
    }
  }

  /** Hybrid near-dup pairs: the union of lexical (word n-gram
    * Jaccard) and semantic (embedding cosine) evidence, labelled by
    * which detector(s) fired. Lexical catches verbatim/templated
    * duplication that embeddings smooth over; semantic catches
    * paraphrases that share no shingles — a curation pipeline wants
    * both, and the full-outer join keeps each pair's scores side by
    * side for threshold tuning.
    *
    * Scale shape: the two detectors keep their own shapes (inverted
    * index / cell-blocked cosine join); the final full-outer join is
    * on (id_a, id_b) pair keys — rows proportional to flagged pairs,
    * not the corpus.
    *
    * `semanticBlockCells`: Some(k) routes the semantic leg through
    * [[embeddingNearDupsBlocked]] (the scale path — one cell-keyed
    * exchange instead of all-pairs); None keeps the brute-force
    * ground-truth leg for differential testing.
    */
  def hybridNearDups(
      docs: DataFrame, emb: DataFrame,
      textCol: String, idCol: String, vecCol: String, vecIdCol: String,
      n: Int = 3, jaccardThreshold: Double = 0.3,
      cosineThreshold: Double = 0.5,
      maxPostings: Option[Int] = Some(10000),
      semanticBlockCells: Option[Int] = None): DataFrame = {
    val lex = ngramJaccardPairs(docs, textCol, idCol, n, jaccardThreshold, maxPostings)
    val sem = semanticBlockCells match {
      case Some(k) => embeddingNearDupsBlocked(emb, vecCol, vecIdCol, cosineThreshold, k)
      case None => embeddingNearDups(emb, vecCol, vecIdCol, cosineThreshold)
    }
    lex.join(sem, Seq("id_a", "id_b"), "full_outer")
      .withColumn("method",
        when(col("jaccard").isNotNull && col("cos_sim").isNotNull, lit("both"))
          .when(col("jaccard").isNotNull, lit("lexical"))
          .otherwise(lit("semantic")))
  }

  /** Sub-document dedup: token-window chunks (via
    * [[TextChunker.chunk]]) that appear more than once across the
    * corpus — the paragraph-level analogue of exact dedup, catching
    * boilerplate (headers, licenses, templated sections) that
    * whole-document hashing misses because the surrounding text
    * differs.
    *
    * Scale shape: chunking is scan-stage expression work; the dedup
    * aggregates 16-byte chunk digests, never chunk text. The doc
    * count is a two-level aggregation — (digest, doc) partial
    * counts, then per-digest rollup — instead of a COUNT DISTINCT,
    * so no expand duplication and both shuffles carry digest+id
    * pairs only.
    */
  def duplicatedChunks(
      docs: DataFrame, textCol: String, idCol: String,
      windowTokens: Int, strideTokens: Int): DataFrame =
    TextChunker.chunk(docs, textCol, idCol, windowTokens, strideTokens)
      .select(col(idCol), md5(col("chunk_text")).as("chunk_md5"))
      .groupBy(col("chunk_md5"), col(idCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("chunk_md5"))
      .agg(sum(col("__c")).as("n_occurrences"),
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .where(col("n_occurrences") > 1)

  /** Embedding-cosine near-duplicate pairs, brute force: an explicit
    * all-pairs theta-join — O(N²) and NOT the scale path. Kept as the
    * ground truth the blocked variant
    * ([[embeddingNearDupsBlocked]], the declared d05/d08 path) is
    * differentially tested against: within a block the blocked
    * variant's recall vs this one is exactly 1.0 (spec-pinned).
    */
  def embeddingNearDups(
      emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    // fan the streamed side out so the N² nested loop uses every core
    val a = graft.ops.ScaleOps.fanOut(emb)
      .select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", Similarity.cosine(col("va"), col("vb")))
      .where(col("cos_sim") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Embedding-cosine near-duplicate pairs with SemDeDup-style cell
    * blocking ([[Clustering.semDedup]]'s pair-generation shape,
    * reporting the pairs instead of applying a keep rule): members
    * are assigned to k seed-centroid cells by a map-only
    * inlined-centroid projection, and pairs are searched ONLY within
    * a cell — ONE cell-keyed exchange, (|cell|²)/2 pair work per
    * cell instead of the corpus-wide O(N²) of
    * [[embeddingNearDups]]. At 100 TB raise k (SemDeDup uses
    * k ≈ √N) so cells stay bounded. Cross-cell near-dups are
    * invisible by construction — the algorithm's documented recall
    * trade; within a cell, recall vs the brute-force ground truth is
    * exactly 1.0 (differentially spec-pinned, and the d05 oracle
    * reconstructs the identical blocking in SQL).
    *
    * @return (id_a, id_b, cos_sim) — same-cell pairs with
    *         cosine >= threshold, id_a < id_b
    */
  def embeddingNearDupsBlocked(
      emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double, k: Int): DataFrame = {
    val asg = Clustering.assignToSeeds(emb, vecCol, idCol, k)
      .select(col(idCol).as("id"), col("cell"), col(vecCol).as("v"))
    val a = asg.select(col("id").as("id_a"), col("cell"), col("v").as("va"))
    val b = asg.select(col("id").as("id_b"), col("cell"), col("v").as("vb"))
    a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", Similarity.cosine(col("va"), col("vb")))
      .where(col("cos_sim") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Corpus snapshot diff — the bookkeeping operator an incremental
    * crawl pipeline runs before anything else: classify every doc id
    * across two snapshots as added / removed / changed / unchanged by
    * CONTENT digest, so downstream incremental dedup
    * ([[incrementalNearDupPairs]], [[Clustering.semDedupIncremental]])
    * runs only on the added+changed slice instead of re-processing
    * the snapshot.
    *
    * Scale shape: each side reduces to (id, md5) inside the scan
    * stage — 16-byte digests, never text — and the diff is ONE
    * id-keyed full-outer hash join. Output is O(|A ∪ B|) rows of
    * (id, status).
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String): DataFrame =
    oldDocs.select(col(idCol).as("id"), md5(col(textCol)).as("__ha"))
      .join(newDocs.select(col(idCol).as("id"), md5(col(textCol)).as("__hb")),
        Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") === col("__hb"), "unchanged")
          .otherwise("changed").as("status"))

  /** Duplicated-SPAN coverage per document — the operator behind
    * "deduplicating training data makes language models better"-style
    * substring dedup, adapted to token granularity: a k-token window
    * occurring ≥ `minOccurs` times ANYWHERE in the corpus (across
    * docs or repeated within one) is a duplicated span, and each doc
    * reports how many of its tokens are covered by the union of its
    * duplicated windows. Catches boilerplate/recycled passages that
    * whole-doc and shingle-set dedup both miss (a doc 20% templated
    * header has Jaccard ≪ threshold against every sibling yet carries
    * the exact duplicated span).
    *
    * Scale shape — single tokenization pass, longs-or-digests-only
    * exchanges:
    *  1. each doc emits its (i, window-key) stream map-side via one
    *     projected token array (the t22 O(T²)-split lesson);
    *  2. duplicate detection is ONE window-key-keyed exchange with a
    *     windowed count — the posting rows are (id, i, key) triples,
    *     never text, and a hot boilerplate window costs its posting
    *     list on one reducer exactly like the d02 inverted index
    *     (same cap reasoning applies if spam degenerates);
    *  3. coverage is the classic sorted-interval union specialised to
    *     uniform length-k intervals: per doc ordered by start i, a
    *     window contributes min(k, i − prev_i) tokens — ONE doc-keyed
    *     exchange of int pairs, no per-position explode (the naive
    *     "explode k covered positions per window, count distinct"
    *     amplifies the stream k×).
    * Per-doc totals are a scan-stage projection joined back on id
    * (three longs per doc).
    *
    * The window key is pluggable: `xxhash64` by default (8-byte
    * shuffle keys, the scale path), `md5` for the oracle-pinned d16
    * query (DuckDB reproduces md5 exactly; the interval-union kernel
    * is identical either way, the d12/d03 twin discipline).
    *
    * @return (id, n_tokens, dup_tokens, dup_fraction) — one row per
    *         doc, dup_fraction rounded 6 dp
    */
  def spanCoverage(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minOccurs: Int = 2,
      keyer: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 2, "window length k must be >= 2")
    require(minOccurs >= 2, "minOccurs must be >= 2 (1 marks everything)")
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val toks = col("__tk")
    // window starts are 1-based so the SQL oracle's generate_series
    // formulation is position-identical
    val idxs = when(size(toks) >= k, sequence(lit(1), size(toks) - lit(k) + 1))
      .otherwise(array().cast("array<int>"))
    val wins = transform(idxs, i => struct(
      i.as("i"), keyer(array_join(slice(toks, i, lit(k)), " ")).as("w")))
    val stream = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"), split(norm, " ").as("__tk"))
      .select(col("id"), explode(wins).as("g"))
      .select(col("id"), col("g.i").as("i"), col("g.w").as("w"))
    val dup = stream
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("w"))))
      .where(col("cnt") >= minOccurs)
    val perDoc = dup
      .withColumn("gap",
        col("i") - lag(col("i"), 1).over(Window.partitionBy(col("id")).orderBy(col("i"))))
      .select(col("id"),
        least(lit(k), coalesce(col("gap"), lit(k))).cast("long").as("cov"))
      .groupBy(col("id"))
      .agg(sum(col("cov")).as("dup_tokens"))
    docs
      .select(col(idCol).as("id"), size(split(norm, " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_fraction",
        round(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** Boilerplate REMOVAL — the rebuild counterpart of
    * [[duplicatedChunks]]/[[spanCoverage]] (which only flag): each
    * document is split into disjoint `chunkTokens`-token chunks, a
    * chunk's document frequency is counted corpus-wide, and the
    * document is reassembled KEEPING only chunks present in at most
    * `maxDf` documents. This is CCNet/RefinedWeb paragraph-level
    * dedup re-expressed over fixed-width token chunks (the fixture
    * corpus has no paragraph separators; on real text, substitute the
    * paragraph split for the chunker — the df/rebuild machinery is
    * separator-agnostic): headers, navigation and license blocks
    * repeat across thousands of pages and survive document-level
    * dedup because every PAGE is unique.
    *
    * Scale shape: chunks hash in the scan stage (chunk text is built
    * per row and reduced to xxhash64 before any exchange), so the df
    * aggregation and the keep-decision join move (id, pos, hash)
    * longs only — never text. The two-level (hash, id)→(hash)
    * aggregation keeps map-side partials exact for the DISTINCT-doc
    * count (the d09 treatment). Kept positions collapse to ONE
    * compact row per doc (id + sorted int array), and the original
    * text is re-read in a single id-keyed join for the rebuild — the
    * only stage where text moves, once, as in any rebuild; AQE
    * broadcasts the positions side when it fits. The reassembly
    * itself (slice + flatten + join over the kept positions) is
    * per-row expression work.
    *
    * Chunk c covers tokens [c·W, c·W+W) (0-based), last chunk may be
    * short; a doc with every chunk dropped survives with empty text
    * (the caller filters, keeping the audit trail). The hash stands
    * in for the chunk string (t23 treatment: oracle runs on strings,
    * identical short of an xxhash64 collision among distinct chunks).
    *
    * @return (id, text_kept, n_chunks, n_kept, n_dropped)
    */
  def dropCommonChunks(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, maxDf: Long): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(maxDf >= 1, "maxDf must be >= 1 (0 drops everything)")
    val w = chunkTokens
    val toks = col("__tk")
    val lastChunk = ((size(toks) - 1) / w).cast("int")
    val hashes = transform(sequence(lit(0), lastChunk), c => struct(
      c.as("c"), xxhash64(array_join(slice(toks, c * w + 1, lit(w)), " ")).as("h")))
    // materialized ONCE (the t22/t27 lesson): the chunk-hash stream
    // feeds TWO consumers (the df aggregation and the keep-decision
    // join) — without the cache each re-runs the scan+Generate chain,
    // tokenizing the corpus into chunks twice. Hash-only frame
    // (3 longs/row), same volume the exchange spills anyway.
    val stream = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"), split(col(textCol), " ").as("__tk"))
      .select(col("id"), explode(hashes).as("g"))
      .select(col("id"), col("g.c").as("c"), col("g.h").as("h"))
      .transform(org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse)
    val df = stream.groupBy(col("h"), col("id")).agg(count(lit(1)).as("__c"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val keeps = stream.join(df, Seq("h"))
      .where(col("df") <= maxDf)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("c"))).as("keeps"))
    docs
      .select(col(idCol).as("id"), col(textCol).as("__txt"))
      .join(keeps, Seq("id"), "left")
      // token array PROJECTED before the rebuild lambda — HOFs
      // evaluate interpreted with no CSE, so an inline
      // slice(split(__txt), …) would re-split the text per kept
      // chunk (the bigramLogProb O(T²) trap)
      .select(col("id"), split(col("__txt"), " ").as("__tk"),
        coalesce(col("keeps"), array().cast("array<int>")).as("keeps"))
      .select(col("id"),
        array_join(flatten(transform(col("keeps"),
          c => slice(col("__tk"), c * w + 1, lit(w)))), " ").as("text_kept"),
        (((size(col("__tk")) - 1) / w) + 1).cast("long").as("n_chunks"),
        size(col("keeps")).cast("long").as("n_kept"))
      .withColumn("n_dropped", col("n_chunks") - col("n_kept"))
  }

  /** LSH recall curve — the measurement that justifies running
    * [[minHashLshMd5]]/[[minHashLsh]] instead of the exact
    * [[ngramJaccardPairs]] at scale: ground-truth pairs (exact
    * Jaccard ≥ `floor`) are binned by Jaccard decile and each bin
    * reports how many pairs the banded-LSH candidate set recovered.
    * This is the empirical S-curve of the (bands, rows-per-band)
    * banding — the number every dedup paper quotes and every
    * pipeline should re-measure on ITS corpus before trusting LSH:
    * recall ≈ 1−(1−j^r)^b rises steeply near the threshold the
    * banding was tuned for and the low-Jaccard bins SHOULD be missed
    * (that's the speedup).
    *
    * An EVALUATION operator: the exact side is the uncapped inverted
    * index — at 100 TB run it on a sampled slice (the standard
    * recall-audit protocol) while the LSH side runs on everything.
    * Shuffles move digests/hashes only on both legs; the bin rollup
    * touches pair-count rows.
    *
    * @return (bin, n_true, n_hit, recall) — bin b covers Jaccard
    *         [b/10, (b+1)/10)
    */
  def lshRecallReport(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      floor: Double = 0.05): DataFrame = {
    val exact = ngramJaccardPairs(docs, textCol, idCol, shingleN, floor,
      maxPostings = None)
    val cand = minHashLshMd5(docs, textCol, idCol, shingleN, numHashes, bands)
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    exact.join(cand, Seq("id_a", "id_b"), "left")
      .groupBy(floor10(col("jaccard")).as("bin"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_true").cast("double"), 6))
  }

  /** Jaccard decile index: both engines compute the identical double
    * then the identical floor, so bin edges agree bit-for-bit. */
  private def floor10(j: Column): Column =
    floor(j * lit(10.0)).cast("long")

  /** Duplicated-SPAN removal — the rebuild counterpart of
    * [[spanCoverage]] and the operator from "Deduplicating Training
    * Data Makes Language Models Better" (Lee et al. 2022): every
    * token covered by a corpus-duplicated k-token window is removed
    * and the document reassembled from the surviving tokens, in
    * order. Unlike [[dropCommonChunks]] (disjoint chunks, df-capped)
    * this catches duplicated text at ANY offset; the policy is
    * drop-all-occurrences (the d16 coverage semantics — symmetric and
    * order-free; keep-first-occurrence needs a global occurrence
    * order and is a variant, not the default).
    *
    * Scale shape, all linear: windows hash in the scan stage
    * ([[spanCoverage]] kernel); duplicated starts come off one
    * window-keyed count; covered positions explode k rows per dup
    * start and DISTINCT down; the position stream (id, p) — no
    * strings — anti-joins covered, collapses to one sorted int-array
    * row per doc, and the original text joins back ONCE by id with
    * the positions side broadcast-eligible (the d18 rebuild
    * contract: document text never crosses an exchange). Reassembly
    * reads the projected token array by position. Output text is the
    * NORMALIZED token stream (lower/whitespace-collapsed — the same
    * normalization the window hashes saw).
    *
    * @return (id, text_kept, n_tokens, n_kept, n_dropped)
    */
  def dropDuplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minOccurs: Int = 2,
      keyer: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 2, "window length k must be >= 2")
    require(minOccurs >= 2, "minOccurs must be >= 2 (1 drops everything)")
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val toks = col("__tk")
    val idxs = when(size(toks) >= k, sequence(lit(1), size(toks) - lit(k) + 1))
      .otherwise(array().cast("array<int>"))
    val wins = transform(idxs, i => struct(
      i.as("i"), keyer(array_join(slice(toks, i, lit(k)), " ")).as("w")))
    val stream = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"), split(norm, " ").as("__tk"))
      .select(col("id"), explode(wins).as("g"))
      .select(col("id"), col("g.i").as("i"), col("g.w").as("w"))
    val dupStarts = stream
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("w"))))
      .where(col("cnt") >= minOccurs)
      .select(col("id"), col("i"))
    val covered = dupStarts
      .select(col("id"), explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .distinct()
    val positions = docs
      .select(col(idCol).as("id"), explode(sequence(lit(1), size(split(norm, " ")))).as("p"))
    val keeps = positions.join(covered, Seq("id", "p"), "left_anti")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("p"))).as("keeps"))
    docs
      .select(col(idCol).as("id"), norm.as("__txt"))
      .join(keeps, Seq("id"), "left")
      // token array projected before the rebuild lambda (HOF no-CSE)
      .select(col("id"), split(col("__txt"), " ").as("__tk"),
        coalesce(col("keeps"), array().cast("array<int>")).as("keeps"))
      .select(col("id"),
        array_join(transform(col("keeps"), p => element_at(col("__tk"), p)), " ")
          .as("text_kept"),
        size(col("__tk")).cast("long").as("n_tokens"),
        size(col("keeps")).cast("long").as("n_kept"))
      .withColumn("n_dropped", col("n_tokens") - col("n_kept"))
  }
}
