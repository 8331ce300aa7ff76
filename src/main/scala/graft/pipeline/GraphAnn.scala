package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Graph-based ANN — the third index family beside the hash buckets
  * (LSH, s02/s17) and the coarse quantizers (IVF/PQ/SQ, s03/s12/s09):
  * a kNN GRAPH refined by neighbor-of-neighbor exploration
  * (NN-descent, Dong et al. WWW'11, public literature — the
  * construction step under HNSW-class serving indexes). The premise
  * is the triangle inequality's soft form: my neighbor's neighbor is
  * likely my neighbor, so each refinement round rescores the 2-hop
  * frontier instead of the corpus.
  *
  * Spark shape: the graph is an edge DataFrame (src, dst); a round is
  * two self-joins (forward 2-hop expansion), one vector join per
  * side, one windowed top-k — no driver-side graph object, no
  * per-vertex state. Everything shuffles by vector id; the only
  * vector movement is the candidate rescoring join (|cand| ≈ N·k²
  * rows, k small).
  */
object GraphAnn {

  /** Seed kNN graph: top-k among IVF cell-mates (vectors in the same
    * cell rank their own cell's members). The per-cell self-join is
    * the semDedup pair shape — O(N²/kCells) rows, never corpus².
    * `assigned` carries (id, v, cell).
    */
  private def initGraph(assigned: DataFrame, k: Int): DataFrame = {
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cs").desc, col("dst"))
    assigned.select(col("cell"), col("id").as("src"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("id").as("dst"),
        col("v").as("vb")), Seq("cell"))
      .where(col("src") =!= col("dst"))
      .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
      .withColumn("rn", row_number().over(wSrc))
      .where(col("rn") <= k)
      .select(col("src"), col("dst"))
  }

  /** One NN-descent refinement round: forward 2-hop frontier ∪
    * current edges, rescored exactly against `vecs` (id, v),
    * re-ranked to top-k. |cand| ≈ N·k² rows, k small — the only
    * vector movement is the rescoring join.
    */
  private def refineRound(n: DataFrame, vecs: DataFrame, k: Int): DataFrame = {
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cs").desc, col("dst"))
    val hop2 = n.as("x")
      .join(n.as("y"), col("x.dst") === col("y.src"))
      .where(col("y.dst") =!= col("x.src"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
    n.unionByName(hop2).distinct()
      .join(vecs.select(col("id").as("src"), col("v").as("va")), Seq("src"))
      .join(vecs.select(col("id").as("dst"), col("v").as("vb")), Seq("dst"))
      .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
      .withColumn("rn", row_number().over(wSrc))
      .where(col("rn") <= k)
      .select(col("src"), col("dst"))
  }

  /** One NN-descent refinement round over the UNDIRECTED graph — the
    * published algorithm's expansion (Dong et al. §2: the local join
    * runs over N(v) ∪ R(v), forward and reverse neighbors): reverse
    * every edge, expand 2-hop on the union, rescore exactly, keep
    * top-k. Reverse edges are what make descent converge — a vector
    * that APPEARS in many lists propagates its own list back to them.
    * |cand| ≤ 4·N·k² rows; vectors move only through the rescoring
    * join.
    */
  private def refineRoundUndirected(n: DataFrame, vecs: DataFrame,
      k: Int): DataFrame = {
    val wSrc = Window.partitionBy(col("src"))
      .orderBy(col("cs").desc, col("dst"))
    val und = n.unionByName(
      n.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val hop2 = und.as("x")
      .join(und.as("y"), col("x.dst") === col("y.src"))
      .where(col("y.dst") =!= col("x.src"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
    n.unionByName(hop2).distinct()
      .join(vecs.select(col("id").as("src"), col("v").as("va")), Seq("src"))
      .join(vecs.select(col("id").as("dst"), col("v").as("vb")), Seq("dst"))
      .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
      .withColumn("rn", row_number().over(wSrc))
      .where(col("rn") <= k)
      .select(col("src"), col("dst"))
  }

  /** FLAT LogicalRDD view over a cached Dataset — the iterative-loop
    * plan-depth guard shared by every graph loop here (see
    * [[nnDescentConverge]]'s note): the refine/hop steps reference
    * their input several times, so a naive loop's ANALYZED plan grows
    * exponentially in rounds (the plan string alone OOMs the driver —
    * the m22 class); the flat view keeps the logical plan one step
    * deep while a lost cache block still recomputes through the
    * physical lineage.
    */
  private[pipeline] def flat(ds: DataFrame): DataFrame =
    ds.sparkSession.createDataFrame(ds.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].rdd,
      ds.schema)

  /** Undirected closure of a directed adjacency. */
  private[pipeline] def undirected(g: DataFrame): DataFrame =
    g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Undirected VIEW of a directed adjacency for the serve-time beam
    * walks: g ∪ reverse(g) WITHOUT the dedup exchange. A mutual edge
    * (both (a,b) and (b,a) in g) appears twice, which only duplicates
    * query-bounded frontier rows — [[hopScored]] already dedups its
    * collected rows driver-side (identical deterministic triples) —
    * while the distinct() this view drops was a corpus-sized (2·E
    * row) shuffle paid once per serve call. Walk-only by contract:
    * any consumer that COUNTS edges must keep [[undirected]].
    */
  private[pipeline] def undirectedWalk(g: DataFrame): DataFrame =
    g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))

  /** One NN-DESCENT refinement round with a recall audit: seed a kNN
    * graph from IVF cell-mates (vectors in the same cell rank their
    * own cell's members — the cheap-but-myopic initialization: recall
    * is capped by whatever the cell boundary cut off), expand each
    * vector's candidates with its neighbors' neighbors, rescore
    * exactly, keep top-k. Reports recall@k against the exact
    * brute-force leg for BOTH stages.
    *
    * CLOSURE PROPERTY (adjudicated round 19): with cell-confined
    * seeding the forward 2-hop frontier is CLOSED — every neighbor is
    * a cell-mate, so every neighbor's neighbor is too, and since the
    * init graph is already the exact top-k within the cell, the
    * refined graph is bit-identical to it (round1 ≡ init, verified on
    * every corpus). The two stages therefore measure the IVF
    * cell-boundary recall ceiling and CONFIRM it is a fixed point
    * under same-cell refinement; they do not measure graph
    * improvement. The operator that actually descends is
    * [[nnDescentConverge]], whose ring init crosses cells by
    * construction.
    *
    * Exact-leg contract (the d19 recall-audit protocol): the
    * brute-force leg is O(N·|sample|) and exists to GRADE the graph,
    * not to serve it — `auditMod` restricts the audited queries to
    * ids ≡ 0 (mod auditMod) (deterministic, engine-portable), so at
    * corpus scale the graph builds on everything while the exact leg
    * stays linear. Every reported counter (edges, hits, possible) is
    * restricted to the same sample, so the recalls stay comparable.
    *
    * Determinism: every top-k window orders (cosine desc, id asc) —
    * total order; recall is one exact-integer division rounded 6 dp.
    *
    * @return two rows (stage ∈ init|round1): (stage, n_queries,
    *         n_edges, n_hits, n_possible, recall) — unsorted, callers
    *         order
    */
  def nnDescentRecallAudit(emb: DataFrame, vecCol: String, idCol: String,
      kCells: Int, k: Int, auditMod: Long = 1L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(auditMod >= 1L, s"auditMod must be >= 1, got $auditMod")
    // vectors by id: feeds the candidate rescoring joins and the
    // exact leg's broadcast query frame — scope-cached (released
    // after the one result plan executes)
    val vecs = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      graft.ops.ScaleOps.fanOut(emb)
        .select(col(idCol).as("id"), col(vecCol).as("v")))
    val assigned = Clustering.assignToSeeds(emb, vecCol, idCol, kCells)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("cell"))
    // init graph + one refinement round (the shared kernels)
    val n0 = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      initGraph(assigned, k))
    val n1 = refineRound(n0, vecs, k)
    // exact audit leg (the shared [[Similarity.exactTopKSelf]] shape):
    // self excluded, queries restricted to the audit sample; the
    // corpus side probes the scope-cached (id, v) frame, not a second
    // parquet scan
    val exact = org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse(
      Similarity.exactTopKSelf(vecs, "v", "id",
        vecs.where(col("id") % lit(auditMod) === 0L)
          .select(col("id").as("src"), col("v").as("qv")), k))
    val totals = exact.agg(
      countDistinct(col("src")).as("n_queries"),
      count(lit(1)).as("n_possible"))
    def leg(stage: String, nbrs: DataFrame) = nbrs
      .where(col("src") % lit(auditMod) === 0L)
      .join(exact.withColumn("__hit", lit(1L)), Seq("src", "dst"), "left")
      // outer coalesce: an EMPTY edge set (e.g. kCells ≥ N → singleton
      // cells) must report n_hits = 0 / recall = 0.0, not NULL
      .agg(count(lit(1)).as("n_edges"),
        coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("n_hits"))
      // broadcast: totals is a 1-row agg — without the hint a cold
      // stats-less plan can pick BNLJ with the big side as build (the
      // codebase invariant every sibling scalar cross join applies,
      // e.g. Pq/Dedup)
      .crossJoin(broadcast(totals))
      .select(lit(stage).as("stage"), col("n_queries"), col("n_edges"),
        col("n_hits"), col("n_possible"),
        round(col("n_hits").cast("double") /
          col("n_possible").cast("double"), 6).as("recall"))
    leg("init", n0).unionByName(leg("round1", n1))
  }

  /** NN-DESCENT TO CONVERGENCE — the actual HNSW-class build loop
    * (Dong et al. WWW'11, terminate on no improvement): from a
    * geometry-BLIND ring init, iterate [[refineRoundUndirected]]
    * until the audited recall@k gain drops below `epsilon` or
    * `maxRounds` is hit, reporting one row per EXECUTED stage — the
    * emitted row count IS the rounds-to-converge measurement. The
    * round exhibiting the sub-ε gain is itself reported (it ran —
    * that observation is the termination evidence).
    *
    * Why not the IVF-cellmate seed of [[nnDescentRecallAudit]]: that
    * init is a FIXED POINT under 2-hop refinement (see the closure
    * note there) — descent needs initial edges that cross the
    * geometry, which is what Dong's random init provides. The
    * deterministic stand-in: each vector's k initial neighbors are
    * the vectors at id offsets +1..+k (mod N) — arbitrary w.r.t.
    * geometry, engine-portable, and every refinement round then
    * genuinely climbs. Requires a DENSE id column (checked loudly);
    * the embeddings tables carry one by construction.
    *
    * Sampled-audit contract (the d19 protocol, here as the DECLARED
    * shape — the serving contract a copy-paste user should run):
    * `auditMod` restricts the recall audit to ids ≡ 0 (mod auditMod);
    * the graph builds on EVERYTHING while the exact leg stays
    * O(N·|sample|). Every counter restricts to the same sample.
    *
    * Spark shape: the per-round edge frames are cached hand-over-hand
    * (round r materializes via its own audit action, then round r−1
    * is released); the loop's driver-side state is five scalars per
    * round — never data. The convergence decision compares the
    * ROUND-6 recalls both engines compute identically, so the stop
    * round is oracle-replayable.
    *
    * @return one row per executed stage: (round_no 0=init, n_queries,
    *         n_edges, n_hits, n_possible, recall, gain, converged) —
    *         gain at round 0 is the recall itself (gain over the
    *         empty graph); converged=1 only on a sub-ε round.
    */
  def nnDescentConverge(emb: DataFrame, vecCol: String, idCol: String,
      k: Int, auditMod: Long = 1L, epsilon: Double = 0.001,
      maxRounds: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(auditMod >= 1L, s"auditMod must be >= 1, got $auditMod")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(epsilon >= 0.0, s"epsilon must be >= 0, got $epsilon")
    val spark = emb.sparkSession
    val vecs = graft.ops.ScaleOps.fanOut(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v")).cache()
    // corpus side of the audit probes the cached (id, v) frame, not a
    // second parquet scan
    val exact = Similarity.exactTopKSelf(vecs, "v", "id",
      vecs.where(col("id") % lit(auditMod) === 0L)
        .select(col("id").as("src"), col("v").as("qv")), k).cache()
    val tot = exact.agg(countDistinct(col("src")).as("q"),
      count(lit(1)).as("p")).collect()(0)
    val (nQueries, nPossible) = (tot.getLong(0), tot.getLong(1))
    // per-stage audit counters — the ONLY actions in the loop, each a
    // 1-row collect (materializes the round's cached edge frame too)
    def counters(nbrs: DataFrame): (Long, Long) = {
      val r = nbrs.where(col("src") % lit(auditMod) === 0L)
        .join(exact.withColumn("__hit", lit(1L)), Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("e"),
          coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("h"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // Spark's round(x, 6): BigDecimal.valueOf + HALF_UP — use the
    // same call so the stop decision replays on any engine
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def rec6(h: Long): Double =
      if (nPossible == 0L) 0.0
      else round6(h.toDouble / nPossible.toDouble)
    // ring init over dense ids: offsets +1..+k (mod N) — one 1-row
    // meta collect + a map-only explode, no shuffle
    val meta = vecs.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx")).collect()(0)
    val (n, mn, mx) = (meta.getLong(0), meta.getLong(1), meta.getLong(2))
    require(n > 0, "cannot build a graph over an empty corpus")
    require(mx - mn + 1L == n,
      s"ring init needs a dense id column: ids span [$mn,$mx] but count is $n")
    val ring = vecs.select(col("id").as("src"))
      .select(col("src"),
        explode(sequence(lit(1), lit(math.min(k.toLong, n - 1L)))).as("j"))
      .select(col("src"),
        (((col("src") - lit(mn)) + col("j")) % lit(n) + lit(mn)).as("dst"))
      .where(col("dst") =!= col("src"))
      .distinct()
    // each round feeds the next through the shared FLAT LogicalRDD
    // view (the closure loop's pattern, Dedup.scala): the refine step
    // references its input ~5×, so a naive loop's ANALYZED plan grows
    // 5^rounds and the plan string alone OOMs the driver. The flat
    // view keeps the logical plan one step deep; a lost cache block
    // still recomputes through the physical lineage.
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Double, Double, Long)]
    var cur = ring.cache()
    val (e0, h0) = counters(cur) // materializes cur before flat reads it
    var prevRecall = rec6(h0)
    buf += ((0L, nQueries, e0, h0, nPossible, prevRecall, prevRecall, 0L))
    var r = 1
    var stopped = false
    while (r <= maxRounds && !stopped) {
      val next = refineRoundUndirected(flat(cur), vecs, k).cache()
      val (er, hr) = counters(next)
      val rec = rec6(hr)
      val gain = round6(rec - prevRecall)
      val conv = if (gain < epsilon) 1L else 0L
      buf += ((r.toLong, nQueries, er, hr, nPossible, rec, gain, conv))
      cur.unpersist()
      cur = next
      prevRecall = rec
      stopped = conv == 1L
      r += 1
    }
    cur.unpersist(); vecs.unpersist(); exact.unpersist()
    spark.createDataFrame(buf.toSeq).toDF("round_no", "n_queries",
      "n_edges", "n_hits", "n_possible", "recall", "gain", "converged")
  }

  /** Ring init + `buildRounds` undirected NN-descent refinements,
    * audit-free — the graph BUILD shared by [[graphBeamSearch]],
    * [[graphAppendAudit]] and the persisted [[GraphIndex]]. Returns
    * the cached directed edge frame (caller owns the unpersist);
    * rounds feed through the flat view to keep the analyzed plan one
    * round deep.
    */
  private[pipeline] def buildRingGraph(vecs: DataFrame, n: Long, mn: Long,
      graphK: Int, buildRounds: Int): DataFrame = {
    var g = vecs.select(col("id").as("src"))
      .select(col("src"),
        explode(sequence(lit(1), lit(math.min(graphK.toLong, n - 1L))))
          .as("j"))
      .select(col("src"),
        (((col("src") - lit(mn)) + col("j")) % lit(n) + lit(mn)).as("dst"))
      .where(col("dst") =!= col("src"))
      .distinct().cache()
    g.count(): Unit
    var r = 0
    while (r < buildRounds) {
      val nx = refineRoundUndirected(flat(g), vecs, graphK).cache()
      nx.count(): Unit
      g.unpersist(); g = nx; r += 1
    }
    g
  }

  /** GRAPH BEAM SEARCH with a per-hop recall audit — the SERVING read
    * of the graph-ANN family (the best-first search HNSW-class
    * indexes answer queries with, Malkov & Yashunin's layer-0 loop):
    * build the kNN graph ([[nnDescentConverge]]'s ring init +
    * `buildRounds` undirected refinements, no audit), then for each
    * query walk it — start the beam at a fixed entry vector (the
    * min-id vector; the next one when the query IS the entry), each
    * hop expand the beam's undirected neighbors, rescore exactly
    * against the query, keep the best `beamWidth` — and report, per
    * (query, hop), the candidates scored THAT hop and the recall@k of
    * the beam's current top-k against the exact leg. The hop count is
    * FIXED (serving systems bound latency, and a fixed hop count is
    * what makes the trajectory oracle-replayable); the per-hop rows
    * ARE the measurement of how many hops the budget needs.
    *
    * This entry point BUILDS the graph in-query — the one-shot /
    * diagnostic shape. Production serving loads a persisted
    * [[GraphIndex]] instead ([[graphBeamSearchLoaded]]): the two
    * produce bit-identical trajectories on the same build parameters
    * (the edge set is deterministic; spec-pinned), the only
    * difference is who pays for the build.
    *
    * Monotonicity: each hop's beam is the top-`beamWidth` of a
    * candidate SUPERSET of the previous beam under the same total
    * order (cos desc, id asc), so beam quality — and therefore
    * recall@k of its top-k — never decreases hop over hop
    * (spec-pinned).
    *
    * Scale shape: the graph build is s45's (per-round flat-view
    * caches); the search touches O(|queries| · beamWidth · degree)
    * vectors per hop — the whole point of graph serving: the corpus
    * is scanned once to build, never per query. Queries broadcast;
    * the per-hop rescoring join is the only vector movement.
    *
    * @return one row per (query, hop 1..hops): (query_id, hop,
    *         n_scored, n_hits, n_possible, recall round-6) —
    *         unsorted, callers order
    */
  def graphBeamSearch(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, beamWidth: Int, graphK: Int,
      buildRounds: Int, hops: Int): DataFrame = {
    require(graphK > 0 && buildRounds >= 0,
      s"bad graphK=$graphK / buildRounds=$buildRounds")
    val (vecs, n, mn, mx) = servingVecs(emb, vecCol, idCol)
    // the IN-QUERY build needs the ring init's dense id space; the
    // loaded serve paths do not (a written-back repaired index serves
    // a tombstone-compacted — non-dense — corpus)
    require(mx - mn + 1L == n,
      s"ring init needs a dense id column: ids span [$mn,$mx] but count is $n")
    try {
      // build: ring + R undirected rounds (the s45 loop, audit-free)
      val g = buildRingGraph(vecs, n, mn, graphK, buildRounds)
      // the serve loop is eager (one collect per hop), so the caches
      // can drop in finally — the returned frame is driver-local rows
      try beamServe(emb, vecCol, idCol, vecs, undirectedWalk(g), mn,
        queryIds, k, beamWidth, hops, coarseSet = None)
      finally g.unpersist()
    } finally vecs.unpersist()
  }

  /** [[graphBeamSearch]] against a PERSISTED [[GraphIndex]] — the
    * production serving read: no build job anywhere below this call,
    * the adjacency comes off the index's parquet edge table. With the
    * same (graphK, buildRounds) the trajectory is bit-identical to an
    * in-query build (the edge set is deterministic — spec-pinned), so
    * the only difference is WHO pays for the build: here it already
    * ran as the index's nightly job.
    *
    * `coarseEntryK = Some(c)` switches the fixed min-id entry to
    * HIERARCHICAL entry selection — the one-layer version of HNSW's
    * upper-layer descent (Malkov & Yashunin §4, public literature):
    * each query's walk starts at its best match among the first `c`
    * vectors by id (the [[Clustering]] seed discipline — a
    * deterministic, engine-portable coarse set), found by scoring
    * just c candidates — O(|queries|·c), flat in N. The entry
    * selection is AUDITED as hop 0 (n_scored = coarse candidates
    * scored, the entry's own hit count against the exact leg), so
    * the output rows cover hops 0..hops instead of 1..hops, and the
    * hop-for-hop trajectory vs the fixed entry MEASURES what the
    * coarse layer buys on the corpus at hand. What it buys is
    * data-dependent (greedy walks carry no dominance theorem):
    * largest at short hop budgets and on corpora with real
    * neighborhood structure; on a near-orthogonal random corpus the
    * strategies reach parity by a 5-hop budget (the round-20
    * `__gentry_ab` A/B — which also exposed that LOW-ID queries are
    * ring-adjacent to the min-id entry, flattering the fixed entry
    * by construction). That measurement, not a guaranteed win, is
    * the operator's contract.
    *
    * Staleness guard: the handle's recorded corpus stats (n, min id)
    * and column names must match the frame being served — a corpus
    * regenerated in place under an old index fails loudly here
    * (complementing the caller's fingerprint keying of `dir`).
    */
  def graphBeamSearchLoaded(emb: DataFrame, vecCol: String, idCol: String,
      handle: GraphIndex.Handle, queryIds: Seq[Long], k: Int,
      beamWidth: Int, hops: Int,
      coarseEntryK: Option[Int] = None,
      coarseEntryIds: Option[Seq[Long]] = None): DataFrame = {
    require(coarseEntryK.isEmpty || coarseEntryIds.isEmpty,
      "pass coarseEntryK or coarseEntryIds, not both")
    val (vecs, n, mn, _) = servingVecs(emb, vecCol, idCol)
    try {
      requireHandleMatches(handle, n, mn, idCol, vecCol)
      beamServe(emb, vecCol, idCol, vecs,
        undirectedWalk(GraphIndex.edges(emb.sparkSession, handle)), mn,
        queryIds, k, beamWidth, hops,
        coarseFrame(vecs, mn, coarseEntryK, coarseEntryIds))
    } finally vecs.unpersist()
  }

  /** The hierarchical-entry coarse candidate set: the first `ck`
    * vectors by id (the seed discipline — s50's declared shape), or
    * an EXPLICIT id set (`coarseEntryIds`) for callers whose coarse
    * layer is computed offline — e.g. k-means medoids (the round-21
    * `__gentry_ab` medoid arm). Returns `vecs`' rows with id renamed
    * dst: (dst, v), or (dst, v, nbrs) off a node frame.
    */
  private def coarseFrame(vecs: DataFrame, mn: Long,
      coarseEntryK: Option[Int],
      coarseEntryIds: Option[Seq[Long]]): Option[DataFrame] =
    coarseEntryK.map { ck =>
      require(ck >= 1, s"coarseEntryK must be >= 1, got $ck")
      vecs.where(col("id") < lit(mn + ck.toLong)).withColumnRenamed("id", "dst")
    }.orElse(coarseEntryIds.map { ids =>
      require(ids.nonEmpty, "coarseEntryIds must be non-empty")
      vecs.where(col("id").isin(ids: _*)).withColumnRenamed("id", "dst")
    })

  /** Shared serving prep: fanned-out (id, v) cache + corpus stats.
    * No density requirement here (round 21): serving a LOADED index
    * works over any id space — a written-back repaired index's
    * corpus is tombstone-compacted, hence non-dense. The build entry
    * points re-assert density themselves (ring init needs it).
    */
  private def servingVecs(emb: DataFrame, vecCol: String,
      idCol: String): (DataFrame, Long, Long, Long) = {
    val vecs = graft.ops.ScaleOps.fanOut(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v")).cache()
    val meta = vecs.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx")).collect()(0)
    val (n, mn, mx) = (meta.getLong(0), meta.getLong(1), meta.getLong(2))
    require(n >= 2, "cannot search a graph over fewer than 2 vectors")
    (vecs, n, mn, mx)
  }

  /** Per-query fixed entry: the min-id vector, or — when the query
    * IS that vector — the second-smallest id. Dense corpora resolve
    * the alternate as mn+1 by construction; a non-dense (repaired)
    * corpus resolves it with one tiny agg, run ONLY when some query
    * actually equals mn (zero extra jobs otherwise, and the same
    * value as the historical mn+1 on dense ids).
    */
  private def fixedEntries(vecs: DataFrame, mn: Long,
      queryIds: Seq[Long]): Seq[(Long, Long)] = {
    lazy val alt: Long = vecs.where(col("id") > lit(mn))
      .agg(min(col("id"))).head().getLong(0)
    queryIds.distinct.map(q => (q, if (q == mn) alt else mn))
  }

  private def requireHandleMatches(handle: GraphIndex.Handle, n: Long,
      mn: Long, idCol: String, vecCol: String): Unit = {
    require(handle.idCol == idCol && handle.vecCol == vecCol,
      s"graph index at ${handle.dir} was built over " +
        s"(${handle.idCol}, ${handle.vecCol}), serving (${idCol}, ${vecCol})")
    require(handle.n == n && handle.mn == mn,
      s"graph index at ${handle.dir} was built over a different corpus: " +
        s"index has n=${handle.n} min_id=${handle.mn}, the served frame " +
        s"has n=$n min_id=$mn — re-key the index dir by corpus fingerprint")
  }

  /** One scored row of a beam walk, held DRIVER-side: the frames a
    * hop produces are query-bounded — ≤ |q|·beamWidth·(degree+1)
    * rows of (qid, dst, cos) — and corpus-INDEPENDENT, so they live
    * on the driver like every other audit counter (guide §8: decide
    * with small rows; the corpus-touching work — frontier expansion
    * over the edge table, rescoring over the vector cache — stays
    * distributed).
    */
  private type BeamRow = (Long, Long, Double)

  /** Top-`width` rows per query under the serving total order
    * (cos desc, id asc) — `java.lang.Double.compare` is Spark's SQL
    * double sort order (NaN greatest, -0.0 < 0.0), so the driver cut
    * is bit-identical to the old `row_number` window cut.
    */
  private def topByQ(rows: Seq[BeamRow], width: Int): Seq[BeamRow] = {
    val ord = new Ordering[BeamRow] {
      def compare(a: BeamRow, b: BeamRow): Int = {
        val c = java.lang.Double.compare(b._3, a._3) // cs desc
        if (c != 0) c else java.lang.Long.compare(a._2, b._2) // dst asc
      }
    }
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, g) => g.sorted(ord).take(width) }
  }

  private val hopPlanSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Daemon pool for [[inParallel]] — cached (the eager operators
    * fork at most a handful of legs per call, and the REST door's
    * request threads each fork their own).
    */
  private lazy val legPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val seq = new java.util.concurrent.atomic.AtomicInteger(1)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-leg-${seq.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })

  /** Overlap two INDEPENDENT legs of an eager operator (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially). At bench scale the eager audits' walls are
    * per-job scheduling overhead, so independent legs STACK instead
    * of adding; on a busy cluster the second leg's tasks back-fill
    * executors freed by the first leg's straggler tail. `a` runs on
    * the calling thread, `b` on the daemon pool with the caller's
    * job description/group copied over (local properties are
    * inherited only at thread CREATION, and pool threads are
    * reused). Both legs always settle before returning — a failure
    * in one never leaves the other running against caches the
    * caller is about to release — and the first failure (in call
    * order) rethrows.
    */
  private def inParallel[A, B](sc: org.apache.spark.SparkContext)(
      a: => A, b: => B): (A, B) = {
    val desc = sc.getLocalProperty("spark.job.description")
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val schedPool = sc.getLocalProperty("spark.scheduler.pool")
    val fb = java.util.concurrent.CompletableFuture.supplyAsync(
      () => {
        sc.setLocalProperty("spark.job.description", desc)
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.scheduler.pool", schedPool)
        b
      },
      legPool)
    val ra = try Right(a) catch { case t: Throwable => Left(t) }
    val rb = try Right(fb.get()) catch {
      case e: java.util.concurrent.ExecutionException => Left(e.getCause)
      case t: Throwable => Left(t)
    }
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(t), other) =>
        other.left.foreach(t.addSuppressed); throw t
      case (_, Left(t)) => throw t
    }
  }

  /** Three-way [[inParallel]]: `a` on the calling thread, `b` and `c`
    * on the pool; all three settle before the first failure (in call
    * order) rethrows.
    */
  private def inParallel3[A, B, C](sc: org.apache.spark.SparkContext)(
      a: => A, b: => B, c: => C): (A, B, C) = {
    val (ab, z) = inParallel(sc)(inParallel(sc)(a, b), c)
    (ab._1, ab._2, z)
  }

  /** ONE beam-walk hop: expand the driver-local beam's undirected
    * frontier, dedupe candidates, rescore exactly, collect the scored
    * rows (the hop's single Spark action). Join sides are structural
    * now, not hint-dependent: the beam is a LocalRelation with exact
    * stats, so the planner broadcasts it onto the edge scan, and the
    * deduped candidate set keeps the explicit broadcast hint onto the
    * vector scan (an inner join's build side — legal and intended;
    * the corpus-sized cached frames never move).
    *
    * SPARK_GRAFT_HOP_PLAN_DIR (dev evidence knob): when set, each
    * hop's formatted plan is written there — the per-hop join
    * evidence a committed `.explain` of the eager operator's
    * LocalRelation result cannot show.
    */
  private def hopScored(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, und: DataFrame, qframe: DataFrame,
      beam: Seq[BeamRow], excludeSelf: Boolean): Seq[BeamRow] = {
    import spark.implicits._
    val beamPairs = beam.map(t => (t._1, t._2)).toDF("qid", "dst")
    val frontier = beamPairs.select(col("qid"), col("dst").as("src"))
      .join(und, Seq("src"))
      .select(col("qid"), col("dst"))
    // no distinct() exchange: a (qid, dst) pair reached through two
    // beam nodes scores to the IDENTICAL row (same deterministic
    // cosine on the same vectors), so the dedup moves to the driver
    // over the collected rows — one whole shuffle round-trip fewer
    // per hop, same distinct row set
    val cand0 = beamPairs.unionByName(frontier)
    val cand = if (excludeSelf) cand0.where(col("dst") =!= col("qid"))
      else cand0
    val scored = broadcast(cand)
      .join(vecs.select(col("id").as("dst"), col("v")), Seq("dst"))
      .join(broadcast(qframe), Seq("qid"))
      .withColumn("cs", Similarity.cosine(col("v"), col("qv")))
      .select(col("qid"), col("dst"), col("cs"))
    sys.env.get("SPARK_GRAFT_HOP_PLAN_DIR").foreach { dir =>
      val p = java.nio.file.Paths.get(dir,
        s"hop_${hopPlanSeq.incrementAndGet()}.txt")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, scored.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    scored.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .distinct
  }

  /** Score an explicit (qid, dst) pair list against the corpus — the
    * entry-scoring job shared by every walk's hop 0.
    */
  private def scorePairs(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, qframe: DataFrame,
      pairs: Seq[(Long, Long)]): Seq[BeamRow] = {
    import spark.implicits._
    scorePairsDf(spark, vecs, qframe, pairs.toDF("qid", "dst"))
  }

  /** Driver-LOCAL query frame: one collect job over the corpus cache,
    * rebuilt as a LocalRelation (qid, qv). Every walk broadcasts the
    * query side once per hop (plus the exact legs). Off a cached
    * distributed frame each broadcast would first re-collect the
    * query rows from the cache; off a LocalRelation it does not — but
    * it is NOT free: Spark 4.1 still runs a small job (4 tasks here)
    * per broadcast of a local relation, so `broadcast(local) ⋈ scan`
    * collects in 2 jobs, and 3 with a second local broadcast. The
    * rows are query-bounded (|q| ≤ 256 on every serve path — the same
    * driver-data class as the beam itself). Returns the local frame
    * plus its row count (the absent-id guard's input, saving the
    * separate count job).
    */
  private def localQueryFrame(vecs: DataFrame,
      queryIds: Seq[Long]): (DataFrame, Long) = {
    val qf = vecs.where(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("v").as("qv"))
    val rows = qf.collect()
    (qf.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), qf.schema), rows.length.toLong)
  }

  private def scorePairsDf(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, qframe: DataFrame, pairs: DataFrame): Seq[BeamRow] =
    broadcast(pairs)
      .join(vecs.select(col("id").as("dst"), col("v")), Seq("dst"))
      .join(broadcast(qframe), Seq("qid"))
      .withColumn("cs", Similarity.cosine(col("v"), col("qv")))
      .select(col("qid"), col("dst"), col("cs"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  /** The audited beam walk over an ALREADY-BUILT adjacency — the
    * serving kernel shared by [[graphBeamSearch]] (in-query build)
    * and [[graphBeamSearchLoaded]] (persisted index). `vecs` stays
    * the caller's; the edge closure is cached for the loop and
    * released before returning.
    *
    * Round-16 shape (guide §2.4/§8 — the r15 verdict's job-count
    * item): the BEAM lives on the driver. Each hop is ONE Spark
    * action — frontier expansion over the cached undirected edges,
    * candidate dedupe, exact rescoring, collect of the query-bounded
    * scored rows (≤ |q|·beamWidth·(degree+1), corpus-independent) —
    * and the beam cut, the per-(query, hop) audit counters, and the
    * recall arithmetic are plain driver math over those rows and the
    * collected exact leg. Versus the r15 shape this removes, per
    * hop: the beam cache/unpersist churn, the flat-RDD views, the
    * count() materialization action, and the audit window shuffle —
    * and removes the deferred tagged-union counter job entirely
    * (s47: 74 AQE stage-jobs → the hop jobs plus three; see
    * OPTIMIZATION_r16.md for the measured table). Join sides are
    * structural: the beam/candidate frames are LocalRelations with
    * exact stats, so the planner builds on them and the corpus-sized
    * cached frames never move (the r15 broadcast-hint pinning, now
    * guaranteed by construction).
    */
  private def beamServe(emb: DataFrame, vecCol: String, idCol: String,
      vecs: DataFrame, undSrc: DataFrame, mn: Long, queryIds: Seq[Long],
      k: Int, beamWidth: Int, hops: Int,
      coarseSet: Option[DataFrame]): DataFrame = {
    require(k > 0 && beamWidth >= k, s"need beamWidth >= k > 0, " +
      s"got k=$k beamWidth=$beamWidth")
    require(hops >= 1, s"bad hops=$hops")
    require(queryIds.nonEmpty, "no queries")
    val spark = emb.sparkSession
    val und = undSrc.cache() // materialized by hop 1's action
    // every requested query must exist in the corpus — without this
    // the audit loop would fabricate (n_scored=0, recall=0) rows for
    // absent ids while the SQL oracle's inner join omits them: a bad
    // caller input must fail loudly, not diverge silently (r13
    // advice) — and without pinning the walk caches (r21 advice)
    val (qframe, nQ) = try localQueryFrame(vecs, queryIds)
    catch { case t: Throwable => und.unpersist(); throw t }
    try require(nQ == queryIds.distinct.size.toLong,
      s"${queryIds.distinct.size - nQ} of ${queryIds.distinct.size} " +
        s"query ids are absent from the corpus id column '$idCol'")
    catch {
      case t: Throwable => und.unpersist(); throw t
    }
    try {
      // the walk and the exact audit leg are independent until the
      // counter arithmetic — overlap them (§2.6): the walk runs its
      // hop actions on this thread while the exact leg's
      // corpus-bounded window job fills the idle executors
      val (scoredByHop, exactPairs) = inParallel(spark.sparkContext)({
        // per-hop scored rows, driver-side, audited after the loop
        val byHop = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Seq[BeamRow])]
        var beam: Seq[BeamRow] = coarseSet match {
          case None =>
            // entry per query: the min-id vector; the next-smallest
            // id when the query is itself the entry (n >= 2 makes it
            // exist)
            scorePairs(spark, vecs, qframe, fixedEntries(vecs, mn, queryIds))
          case Some(coarse) =>
            // hierarchical entry: score each query against the COARSE
            // SET and enter at the argmax (ties to the smaller id).
            // |queries|·|coarse| scores — flat in corpus size. Audited
            // as hop 0 (the hop-0 "beam" is the rank-1 entry alone).
            // The coarse scan streams; the LOCAL query frame is the
            // broadcast side (no re-collect of the query rows).
            val scored0 = coarse.crossJoin(broadcast(qframe))
              .where(col("dst") =!= col("qid"))
              .withColumn("cs", Similarity.cosine(col("v"), col("qv")))
              .select(col("qid"), col("dst"), col("cs"))
              .collect().toSeq
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            byHop += ((0L, scored0))
            topByQ(scored0, 1)
        }
        var h = 1
        while (h <= hops) {
          val scored = hopScored(spark, vecs, und, qframe, beam,
            excludeSelf = true)
          byHop += ((h.toLong, scored))
          beam = topByQ(scored, beamWidth)
          h += 1
        }
        byHop
      }, {
        // exact leg over the queries (the shared audit kernel),
        // collected once: |q|·k rows of ids; probes the CACHED
        // (id, v) frame, not a second parquet scan of the corpus
        Similarity.exactTopKSelf(vecs, "v", "id",
            qframe.select(col("qid").as("src"), col("qv")), k)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      })
      val exactByQ: Map[Long, Set[Long]] =
        exactPairs.groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
      val possible: Map[Long, Long] =
        exactPairs.groupBy(_._1).map { case (q, g) => q -> g.length.toLong }
      // audit, all driver math: n_scored = the hop's scored rows,
      // n_hits = its beam cut (rank 1 at hop 0, top-k otherwise) vs
      // the exact leg, n_possible from the same exact rows. A (q,
      // hop) group with no scored rows reports the all-zero triple —
      // the r15 behavior, preserved bit-for-bit.
      def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val counters: Map[(Long, Long), (Long, Long, Long)] =
        scoredByHop.flatMap { case (hh, rows) =>
          val cutoff = if (hh == 0L) 1 else k
          rows.groupBy(_._1).map { case (q, g) =>
            val ex = exactByQ.getOrElse(q, Set.empty)
            val hits = topByQ(g, cutoff).count(t => ex.contains(t._2))
            (q, hh) -> (g.length.toLong, hits.toLong,
              possible.getOrElse(q, 0L))
          }
        }.toMap
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Double)]
      val firstHop = if (coarseSet.isDefined) 0L else 1L
      (firstHop to hops.toLong).foreach { hh =>
        queryIds.distinct.sorted.foreach { q =>
          val (sc, hits, p) = counters.getOrElse((q, hh), (0L, 0L, 0L))
          buf += ((q, hh, sc, hits, p,
            if (p == 0L) 0.0 else round6(hits.toDouble / p.toDouble)))
        }
      }
      spark.createDataFrame(buf.toSeq).toDF("query_id", "hop", "n_scored",
        "n_hits", "n_possible", "recall")
    } finally {
      und.unpersist()
    }
  }

  /** GRAPH INDEX APPEND — the daily-ingest move for the graph family
    * (the d35/t65/s46 pattern applied to the serving index): insert a
    * BATCH of new vectors into a standing kNN graph the HNSW way —
    * SEARCH the existing graph for each new vector (the s47 beam
    * kernel: fixed `hops` from the min-id entry), CONNECT it to its
    * beam's best `graphK`, then run the REVERSE-adoption step
    * restricted to the touched nodes: each node a new vector
    * connected to re-ranks its own list against the reverse edges
    * (cosine is symmetric, so the scores are already in hand) and
    * adopts the new vector when it beats the current kth neighbor.
    * The corpus graph is never rebuilt; only |batch|·beam·degree
    * search work plus an adoption re-rank over ≤ |batch|·graphK
    * affected nodes.
    *
    * Audited by: (a) recall@graphK of the new vectors' inserted
    * adjacency against the exact-over-corpus leg (|batch|·N — the
    * batch-bound audit), and (b) how many affected existing nodes
    * actually adopted a new vector — the signal that reverse edges
    * keep the graph navigable as it grows (without adoption, new
    * vectors are findable only FROM the batch, never TOWARD it).
    *
    * @return manifest rows (metric, n, x): batch / new_edges /
    *         new_edge_recall (n = hits, x = recall) / affected_nodes
    *         / adopted_nodes (x = adopted fraction) / adopted_edges —
    *         unsorted, callers order
    */
  def graphAppendAudit(corpus: DataFrame, batch: DataFrame,
      vecCol: String, idCol: String, graphK: Int, buildRounds: Int,
      beamWidth: Int, hops: Int): DataFrame = {
    require(buildRounds >= 0, s"bad buildRounds=$buildRounds")
    val (vecs, n, mn, mx) = appendVecs(corpus, vecCol, idCol)
    // in-query build: the ring init needs a dense CORPUS id space
    // (the loaded append does not — round 21)
    require(mx - mn + 1L == n,
      s"ring init needs a dense CORPUS id column: ids span [$mn,$mx], count $n")
    // catch-and-release: appendCore is fully eager since r16 and
    // releases vecs/g itself before returning (its result is a
    // LocalRelation), but a failed require before it gets there must
    // not leave them pinned for the session (r21 advice)
    var g: DataFrame = null
    try {
      // the standing graph, built in-query (the one-shot shape; the
      // production append runs against a persisted index — see
      // [[graphAppendAuditLoaded]])
      g = buildRingGraph(vecs, n, mn, graphK, buildRounds)
      appendCore(corpus, batch, vecCol, idCol, vecs, g, mn, graphK,
        beamWidth, hops)
    } catch {
      case t: Throwable =>
        if (g != null) g.unpersist()
        vecs.unpersist()
        throw t
    }
  }

  /** [[graphAppendAudit]] against a PERSISTED [[GraphIndex]] — the
    * production daily-ingest shape: the standing graph comes off the
    * index's parquet edge table (graphK is the index's), no build job
    * anywhere below this call. Same manifest, bit-identical to an
    * in-query build with the handle's parameters (spec-pinned). The
    * staleness guard matches [[graphBeamSearchLoaded]]'s.
    */
  def graphAppendAuditLoaded(corpus: DataFrame, batch: DataFrame,
      vecCol: String, idCol: String, handle: GraphIndex.Handle,
      beamWidth: Int, hops: Int): DataFrame = {
    val (vecs, n, mn, _) = appendVecs(corpus, vecCol, idCol)
    // catch-and-release: appendCore is eager and releases vecs
    // itself; a staleness-guard or require failure before it gets
    // there must not leave the corpus cache pinned (r21 advice)
    try {
      requireHandleMatches(handle, n, mn, idCol, vecCol)
      appendCore(corpus, batch, vecCol, idCol, vecs,
        GraphIndex.edges(corpus.sparkSession, handle), mn, handle.graphK,
        beamWidth, hops)
    } catch {
      case t: Throwable => vecs.unpersist(); throw t
    }
  }

  private def appendVecs(corpus: DataFrame, vecCol: String,
      idCol: String): (DataFrame, Long, Long, Long) = {
    val vecs = graft.ops.ScaleOps.fanOut(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("v")).cache()
    val meta = vecs.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx")).collect()(0)
    val (n, mn, mx) = (meta.getLong(0), meta.getLong(1), meta.getLong(2))
    require(n >= 2, "cannot append to a graph over fewer than 2 vectors")
    (vecs, n, mn, mx)
  }

  /** The search/connect/adopt/audit body shared by
    * [[graphAppendAudit]] (in-query build, `g` cached) and
    * [[graphAppendAuditLoaded]] (`g` a parquet scan). Fully EAGER
    * since r16 (the beam and the connect cut are driver-local, the
    * counters plain arithmetic), so the returned frame is a
    * LocalRelation and every cache — including the caller's `vecs`
    * and `g` — is released before returning; no CacheScope deferral
    * is needed anywhere on this path anymore.
    */
  private def appendCore(corpus: DataFrame, batch: DataFrame,
      vecCol: String, idCol: String, vecs: DataFrame, g: DataFrame,
      mn: Long, graphK: Int, beamWidth: Int, hops: Int): DataFrame = {
    require(graphK > 0 && beamWidth >= graphK,
      s"need beamWidth >= graphK > 0, got $graphK/$beamWidth")
    require(hops >= 1, s"bad hops=$hops")
    val spark = corpus.sparkSession
    // batch collected ONCE as a driver-local query frame (the same
    // query-bounded driver-data class as the beam it feeds): the old
    // cached bvecs was re-collected by every hop's qframe broadcast;
    // off the LocalRelation no hop re-reads the batch (each broadcast
    // still runs its own small job — see [[localQueryFrame]])
    val bqPlan = batch.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val bRows = bqPlan.collect()
    val nBatch = bRows.length.toLong
    require(nBatch > 0, "empty batch")
    val qframe = spark.createDataFrame(
      java.util.Arrays.asList(bRows: _*), bqPlan.schema)
    // id spaces must be disjoint — ids-only probe (the local batch
    // ids are the broadcast side), loud failure
    require(qframe.select(col("qid").as("id"))
      .join(vecs.select(col("id")), Seq("id")).limit(1).count() == 0L,
      "batch ids collide with corpus ids")
    val und = undirectedWalk(g).cache() // materialized by hop 1's action
    try {
      // the walk/adoption chain and the exact audit leg are
      // independent until the recall arithmetic — overlap them (§2.6)
      val ((newEdges, nAff, an, ae), exactPairs) =
        inParallel(spark.sparkContext)({
          // search the STANDING graph for every new vector (the s47
          // loop; batch ids are disjoint from corpus ids, so no
          // self-exclusion); entry = the min-id vector for every query
          val beam0 = scorePairsDf(spark, vecs, qframe,
            qframe.select(col("qid"), lit(mn).as("dst")))
          val beam = walkBeamLocal(spark, vecs, und, qframe, beam0,
            beamWidth, hops, excludeSelf = false)
          // CONNECT: each new vector's adjacency = its beam's best
          // graphK — a driver cut of the final beam
          val connected: Seq[BeamRow] = topByQ(beam, graphK)
          // REVERSE adoption, restricted to the touched nodes: each
          // affected node re-ranks (its current out-edges ∪ the
          // reverse edges) — cosine symmetry means no new vector
          // movement beyond rescoring the node's own existing list.
          // rev/affected are batch-bounded LocalRelations (exact
          // stats → build side).
          import spark.implicits._
          val rev = connected.map(e => (e._2, e._1, e._3))
          val affected = rev.map(_._1).distinct
          val revDf = rev.toDF("src", "dst", "cs")
            .withColumn("__new", lit(1L))
          val affectedDf = affected.map(Tuple1(_)).toDF("src")
          val fEdges = g.join(broadcast(affectedDf), Seq("src"))
            .join(vecs.select(col("id").as("src"), col("v").as("va")),
              Seq("src"))
            .join(vecs.select(col("id").as("dst"), col("v").as("vb")),
              Seq("dst"))
            .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
            .select(col("src"), col("dst"), col("cs"), lit(0L).as("__new"))
          val wF = Window.partitionBy(col("src"))
            .orderBy(col("cs").desc, col("dst"))
          val adoptedRow = fEdges.unionByName(revDf)
            .withColumn("rn", row_number().over(wF))
            .where(col("rn") <= graphK && col("__new") === 1L)
            .agg(countDistinct(col("src")).as("an"), count(lit(1)).as("ae"))
            .collect()(0)
          (connected, affected.size.toLong,
            adoptedRow.getLong(0), adoptedRow.getLong(1))
        }, {
          // audit (a): exact leg over the corpus, batch queries
          // broadcast; |batch|·graphK rows collected once — probes
          // the cached (id, v) frame, not a second parquet scan
          Similarity.exactTopKSelf(vecs, "v", "id",
              qframe.select(col("qid").as("src"), col("qv")), graphK)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        })
      val exSet = exactPairs.toSet
      val pB = exactPairs.length.toLong
      val hB = newEdges.count(e => exSet.contains((e._1, e._2))).toLong
      def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val rows: Seq[(String, Long, Option[Double])] = Seq(
        ("batch", nBatch, None),
        ("new_edges", newEdges.size.toLong, None),
        ("new_edge_recall", hB, Some(
          if (pB == 0L) 0.0 else round6(hB.toDouble / pB.toDouble))),
        ("affected_nodes", nAff, None),
        ("adopted_nodes", an, Some(
          if (nAff == 0L) 0.0 else round6(an.toDouble / nAff.toDouble))),
        ("adopted_edges", ae, None))
      spark.createDataFrame(rows).toDF("metric", "n", "x")
    } finally {
      und.unpersist(); vecs.unpersist(); g.unpersist()
    }
  }

  /** Fixed-hop beam walk WITHOUT the per-hop audit — the lean serving
    * loop shared by the append search and the tombstone-aware read.
    * Driver-local like [[beamServe]]'s loop (one collect action per
    * hop, no cache churn, query-bounded rows); returns the final
    * beam's rows. `excludeSelf` removes the query's own id from every
    * hop's candidates (corpus-member queries); append batches have
    * disjoint ids and skip the filter.
    */
  private def walkBeamLocal(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, und: DataFrame, qframe: DataFrame,
      beam0: Seq[BeamRow], beamWidth: Int, hops: Int,
      excludeSelf: Boolean): Seq[BeamRow] = {
    var beam = beam0
    var h = 1
    while (h <= hops) {
      beam = topByQ(hopScored(spark, vecs, und, qframe, beam, excludeSelf),
        beamWidth)
      h += 1
    }
    beam
  }

  /** TOMBSTONE-AWARE GRAPH SERVING — the s43 over-fetch discipline
    * applied to the graph index: tombstoned nodes still ROUTE (the
    * HNSW practice — a deleted node keeps its edges until the repair
    * job runs, so the graph stays navigable) but must never be
    * RETURNED. Two strategies are graded from ONE beam walk against
    * the exact-over-LIVE-corpus leg:
    *   - `plain`: top-k of the final beam, deleted filtered AFTER the
    *     cut — silently returns fewer than k and loses recall;
    *   - `overfetch`: top-2k of the same beam, deleted filtered, then
    *     truncated to k — the mitigation serving systems apply.
    *
    * Scale shape: one |queries|-bound walk (O(beam·degree) per hop),
    * the deleted set joins as ids only (AQE broadcasts a small
    * tombstone set), and the exact leg is |queries|·|live| — the
    * audit, not the serve. Queries must be live (no ground truth for
    * a deleted query — rejected loudly). Eager like the audited walk:
    * the returned frame is driver-local rows and every internal cache
    * is released before returning.
    *
    * @return (query_id, strategy ∈ overfetch|plain, n_returned,
    *         n_hits, n_possible, recall round-6) — unsorted
    */
  def graphSearchWithTombstones(corpus: DataFrame, vecCol: String,
      idCol: String, handle: GraphIndex.Handle, deletedIds: DataFrame,
      delIdCol: String, queryIds: Seq[Long], k: Int, beamWidth: Int,
      hops: Int): DataFrame = {
    require(k > 0 && beamWidth >= 2 * k,
      s"the over-fetch cut needs beamWidth >= 2k, got k=$k beamWidth=$beamWidth")
    require(hops >= 1, s"bad hops=$hops")
    require(queryIds.nonEmpty, "no queries")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (vecs, n, mn, _) = servingVecs(corpus, vecCol, idCol)
    try {
      requireHandleMatches(handle, n, mn, idCol, vecCol)
      val del = deletedIds.select(col(delIdCol).as("id")).distinct().cache()
      val und = undirectedWalk(GraphIndex.edges(spark, handle)).cache()
      try {
        // the loud query guards (r21 advice class — a bad caller
        // input must not pin the walk caches; the try/finally now
        // covers the whole walk, so they cannot)
        val (qframe, nQ) = localQueryFrame(vecs, queryIds)
        require(nQ == queryIds.distinct.size.toLong,
          s"${queryIds.distinct.size - nQ} of ${queryIds.distinct.size} " +
            s"query ids are absent from the corpus id column '$idCol'")
        require(qframe.join(del, col("qid") === col("id")).limit(1)
          .count() == 0L,
          "query ids include tombstoned ids — a deleted query has no " +
            "live ground truth")
        // the walk chain (entry, hops, tombstones-in-beam probe) and
        // the exact-over-live leg are independent — overlap (§2.6)
        val ((beam, delInBeam), exactPairs) =
          inParallel(spark.sparkContext)({
            // min-id entry, deleted or not: routing through
            // tombstones is exactly the semantics under test
            val beam0 = scorePairs(spark, vecs, qframe,
              fixedEntries(vecs, mn, queryIds))
            val walked = walkBeamLocal(spark, vecs, und, qframe, beam0,
              beamWidth, hops, excludeSelf = true)
            // tombstones ∩ final beam: one ids-only probe bounded by
            // the beam (the tombstone SET is corpus-fraction-sized
            // and never collected whole)
            val beamIdsDf = walked.map(_._2).distinct.map(Tuple1(_)).toDF("id")
            val inBeam: Set[Long] = del.join(broadcast(beamIdsDf), Seq("id"))
              .collect().map(_.getLong(0)).toSet
            (walked, inBeam)
          }, {
            // ground truth: exact top-k over the LIVE corpus only,
            // collected once (|q|·k rows) — live corpus off the
            // CACHED (id, v) frame, no second parquet scan
            val liveEmb = vecs.join(del, Seq("id"), "left_anti")
            Similarity.exactTopKSelf(liveEmb, "v", "id",
                qframe.select(col("qid").as("src"), col("qv")), k)
              .collect().map(r => (r.getLong(0), r.getLong(1)))
          })
        val exactByQ = exactPairs.groupBy(_._1)
          .map { case (q, g) => q -> g.map(_._2).toSet }
        val possible = exactPairs.groupBy(_._1)
          .map { case (q, g) => q -> g.length.toLong }
        // both strategy legs are driver math over the final beam
        def legCounters(fetch: Int,
            truncate: Boolean): Map[Long, (Long, Long)] =
          beam.groupBy(_._1).map { case (q, g) =>
            val live = topByQ(g, fetch).filterNot(t => delInBeam(t._2))
            val cut = if (truncate) topByQ(live, k) else live
            val ex = exactByQ.getOrElse(q, Set.empty[Long])
            q -> (cut.size.toLong, cut.count(t => ex(t._2)).toLong)
          }
        val plain = legCounters(fetch = k, truncate = false)
        val over = legCounters(fetch = 2 * k, truncate = true)
        def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, Long, Long, Long, Double)]
        queryIds.distinct.sorted.foreach { q =>
          val p = possible.getOrElse(q, 0L)
          Seq(("plain", plain), ("overfetch", over)).foreach { case (nm, m) =>
            val (r, hh) = m.getOrElse(q, (0L, 0L))
            buf += ((q, nm, r, hh, p,
              if (p == 0L) 0.0 else round6(hh.toDouble / p.toDouble)))
          }
        }
        spark.createDataFrame(buf.toSeq).toDF("query_id", "strategy",
          "n_returned", "n_hits", "n_possible", "recall")
      } finally {
        del.unpersist(); und.unpersist()
      }
    } finally vecs.unpersist()
  }

  /** GRAPH DELETE + REPAIR — the s40 tombstone-compaction analogue
    * for the graph family (the maintenance job behind
    * [[graphSearchWithTombstones]]'s serve-time mitigation): remove a
    * tombstoned node set from the standing index and REPAIR the nodes
    * that lost edges by promoting candidates THROUGH each deleted
    * neighbor (u -> d -> w for live w — the published HNSW-repair
    * move: a deleted node's neighborhood is exactly where its
    * in-neighbors' replacement edges live), rescoring each affected
    * node's (surviving ∪ promoted) candidates exactly and keeping the
    * top graphK.
    *
    * Audited by recall@graphK of the REPAIRED adjacency against the
    * exact leg over the LIVE corpus, restricted to the (sampled —
    * `auditMod`, the d19 protocol) affected nodes: the number that
    * tells an operator whether mark-and-route can stop and the
    * tombstones can actually be dropped.
    *
    * Scale shape: every step is bounded by the deletion, never the
    * corpus — dropped/lost edges join the tombstone set as ids,
    * promotion is |lost|·graphK pairs, the rescoring join moves
    * vectors only for affected-node candidates, and the exact leg is
    * |sampled affected|·|live| (the audit, not the repair). EAGER
    * (counters are scalar collects); every internal cache released.
    *
    * @return manifest rows (metric, n, x): deleted_nodes /
    *         edges_dropped / affected_nodes / promoted_candidates /
    *         repaired_edges / repair_recall (n = hits, x = recall) —
    *         unsorted, callers order
    */
  def graphDeleteRepairLoaded(corpus: DataFrame, vecCol: String,
      idCol: String, handle: GraphIndex.Handle, deletedIds: DataFrame,
      delIdCol: String, auditMod: Long = 1L): DataFrame = {
    require(auditMod >= 1L, s"auditMod must be >= 1, got $auditMod")
    val spark = corpus.sparkSession
    val (vecs, n, mn, _) = servingVecs(corpus, vecCol, idCol)
    try {
      requireHandleMatches(handle, n, mn, idCol, vecCol)
      val graphK = handle.graphK
      // tombstones restricted to corpus members (ids only)
      val del = deletedIds.select(col(delIdCol).as("id")).distinct()
        .join(vecs.select(col("id")), Seq("id")).cache()
      val g = GraphIndex.edges(spark, handle)
      val gLive = g
        .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")).cache()
      // live nodes that lost an out-edge into a deleted node
      val lost = g.join(del.select(col("id").as("dst")), Seq("dst"))
        .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
        .select(col("src"), col("dst").as("d"))
      val affected = lost.select(col("src")).distinct().cache()
      // promotion through the deleted neighbor's own out-edges
      val promoted = lost
        .join(g.select(col("src").as("d"), col("dst")), Seq("d"))
        .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .where(col("dst") =!= col("src"))
        .select(col("src"), col("dst")).distinct().cache()
      val cand = gLive.join(affected, Seq("src"))
        .select(col("src"), col("dst"))
        .unionByName(promoted).distinct()
      val wSrc = Window.partitionBy(col("src"))
        .orderBy(col("cs").desc, col("dst"))
      val repaired = cand
        .join(vecs.select(col("id").as("src"), col("v").as("va")), Seq("src"))
        .join(vecs.select(col("id").as("dst"), col("v").as("vb")), Seq("dst"))
        .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
        .withColumn("rn", row_number().over(wSrc))
        .where(col("rn") <= graphK)
        .select(col("src"), col("dst")).cache()
      // recall audit: repaired lists vs exact-over-live, sampled
      val sampled = affected.where(col("src") % lit(auditMod) === 0L)
      // live corpus off the CACHED (id, v) frame — no second
      // parquet scan for the audit side
      val liveEmb = vecs.join(del, Seq("id"), "left_anti")
      val qset = vecs.join(sampled, col("id") === col("src"))
        .select(col("src"), col("v").as("qv"))
      val exact = Similarity.exactTopKSelf(liveEmb, "v", "id",
        qset, graphK).cache()
      // ALL EIGHT scalar counters ride ONE tagged-union count job
      // (§2.4/§2.6: one action instead of the r16 first pass's two —
      // AQE materializes the independent subtrees concurrently inside
      // it), which also materializes the del/gLive/affected/promoted/
      // repaired/exact caches (block-level cache locks make shared
      // subtrees compute once)
      val cnt: Map[String, Long] = del.select(lit("d").as("t"))
        .unionAll(g.select(lit("e").as("t")))
        .unionAll(gLive.select(lit("l").as("t")))
        .unionAll(affected.select(lit("a").as("t")))
        .unionAll(promoted.select(lit("p").as("t")))
        .unionAll(repaired.select(lit("r").as("t")))
        .unionAll(exact.select(lit("x").as("t")))
        .unionAll(repaired.join(sampled, Seq("src"))
          .join(exact, Seq("src", "dst")).select(lit("h").as("t")))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      val (nDel, nEdges, nLiveEdges, nAffected, nPromoted) =
        (cnt("d"), cnt("e"), cnt("l"), cnt("a"), cnt("p"))
      val (nRepaired, nPossible, nHits) = (cnt("r"), cnt("x"), cnt("h"))
      exact.unpersist(); repaired.unpersist(); promoted.unpersist()
      affected.unpersist(); gLive.unpersist(); del.unpersist()
      def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val rows: Seq[(String, Long, Option[Double])] = Seq(
        ("deleted_nodes", nDel, None),
        // every edge with a deleted endpoint on either side
        ("edges_dropped", nEdges - nLiveEdges, None),
        ("affected_nodes", nAffected, None),
        ("promoted_candidates", nPromoted, None),
        ("repaired_edges", nRepaired, None),
        ("repair_recall", nHits, Some(
          if (nPossible == 0L) 0.0
          else round6(nHits.toDouble / nPossible.toDouble))))
      spark.createDataFrame(rows).toDF("metric", "n", "x")
    } finally vecs.unpersist()
  }

  /** COMPOSED GRAPH-INDEX MAINTENANCE RUN — the s46 move for the
    * graph family: the three maintenance legs a production graph
    * index runs in a day, audited in ONE manifest against ONE
    * standing persisted graph and one shared corpus scan —
    *
    *   - APPEND (the s48 audit): search/connect/adopt a batch of new
    *     vectors against the standing graph;
    *   - DELETE+REPAIR (the s51 audit): drop a tombstoned node set
    *     and repair the nodes that lost edges by
    *     promotion-through-deleted;
    *   - SERVE (the s52 audit, summarized per strategy): the
    *     tombstone-aware read — plain top-k vs the 2k over-fetch cut,
    *     graded against exact-over-live.
    *
    * Every leg audits the SAME standing snapshot (the day's jobs
    * graded against the index as it stood, not sequential mutations —
    * s46's discipline), sharing the corpus (id, v) cache, the edge
    * scan, its undirected closure, and the tombstone id set; only the
    * three exact audit legs are leg-private (their query sets
    * differ). EAGER end to end: every counter is a scalar collect and
    * every cache is released before returning.
    *
    * Scale shape = the legs' own: append is batch-bound, repair is
    * deletion-bound, serve is hop-bound; the one corpus-sized cost is
    * the shared (id, v) cache each leg would otherwise pay alone.
    *
    * @return manifest rows (stage ∈ append|repair|serve, metric, n,
    *         x) — append: batch/new_edges/new_edge_recall(n=hits,
    *         x=recall)/affected_nodes/adopted_nodes(x=fraction)/
    *         adopted_edges; repair: the [[graphDeleteRepairLoaded]]
    *         six; serve: plain/overfetch (n=total hits,
    *         x=micro-recall over the query batch),
    *         plain_returned/overfetch_returned (n=total returned),
    *         possible (n=total live ground-truth rows) — unsorted
    */
  def graphMaintenanceRun(corpus: DataFrame, batch: DataFrame,
      vecCol: String, idCol: String, handle: GraphIndex.Handle,
      deletedIds: DataFrame, delIdCol: String, queryIds: Seq[Long],
      k: Int, beamWidth: Int, hops: Int, appendBeamWidth: Int,
      appendHops: Int, auditMod: Long = 1L): DataFrame = {
    require(k > 0 && beamWidth >= 2 * k,
      s"the over-fetch cut needs beamWidth >= 2k, got k=$k beamWidth=$beamWidth")
    require(appendBeamWidth >= handle.graphK,
      s"need appendBeamWidth >= graphK, got $appendBeamWidth/${handle.graphK}")
    require(hops >= 1 && appendHops >= 1,
      s"bad hops=$hops / appendHops=$appendHops")
    require(queryIds.nonEmpty, "no queries")
    require(auditMod >= 1L, s"auditMod must be >= 1, got $auditMod")
    val spark = corpus.sparkSession
    import spark.implicits._
    val graphK = handle.graphK
    val (vecs, n, mn, _) = servingVecs(corpus, vecCol, idCol)
    try {
      requireHandleMatches(handle, n, mn, idCol, vecCol)
      val g = GraphIndex.edges(spark, handle)
      val und = undirectedWalk(g).cache()
      val del = deletedIds.select(col(delIdCol).as("id")).distinct()
        .join(vecs.select(col("id")), Seq("id")).cache()
      def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long, Option[Double])]
      try {
        // live corpus view, shared by legs 2 and 3 (lazy — each leg's
        // own action materializes what it needs off the shared caches)
        val liveEmb = vecs.join(del, Seq("id"), "left_anti")

        // the three audit legs are independent until the report rows
        // — overlap them (§2.6): each leg computes its counters into
        // local values on its own thread, and the report is assembled
        // afterwards in the original row order (output identical)
        val (legAppend, legRepair, legServe) =
          inParallel3(spark.sparkContext)({
            // ---- leg 1: APPEND (the s48 audit — driver-local beam,
            // one action per hop, counters as plain arithmetic; the
            // batch collects ONCE into a LocalRelation so no hop's
            // query-side broadcast re-reads it) ----
            val bqPlan = batch.select(col(idCol).as("qid"),
              col(vecCol).as("qv"))
            val bRows = bqPlan.collect()
            val nBatch = bRows.length.toLong
            require(nBatch > 0, "empty batch")
            val qb = spark.createDataFrame(
              java.util.Arrays.asList(bRows: _*), bqPlan.schema)
            require(qb.select(col("qid").as("id"))
              .join(vecs.select(col("id")), Seq("id")).limit(1).count() == 0L,
              "batch ids collide with corpus ids")
            val beamB0 = scorePairsDf(spark, vecs, qb,
              qb.select(col("qid"), lit(mn).as("dst")))
            val beamB = walkBeamLocal(spark, vecs, und, qb, beamB0,
              appendBeamWidth, appendHops, excludeSelf = false)
            val newEdges: Seq[BeamRow] = topByQ(beamB, graphK)
            // exact legs probe the cached (id, v) frame, not fresh
            // parquet scans of the corpus
            val exactBPairs = Similarity.exactTopKSelf(vecs, "v", "id",
                qb.select(col("qid").as("src"), col("qv")), graphK)
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val exBSet = exactBPairs.toSet
            val pB = exactBPairs.length.toLong
            val hB = newEdges.count(e => exBSet.contains((e._1, e._2))).toLong
            val rev = newEdges.map(e => (e._2, e._1, e._3))
            val affectedB = rev.map(_._1).distinct
            val nAffB = affectedB.size.toLong
            val revDf = rev.toDF("src", "dst", "cs")
              .withColumn("__new", lit(1L))
            val affectedBDf = affectedB.map(Tuple1(_)).toDF("src")
            val fEdges = g.join(broadcast(affectedBDf), Seq("src"))
              .join(vecs.select(col("id").as("src"), col("v").as("va")),
                Seq("src"))
              .join(vecs.select(col("id").as("dst"), col("v").as("vb")),
                Seq("dst"))
              .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
              .select(col("src"), col("dst"), col("cs"),
                lit(0L).as("__new"))
            val wF = Window.partitionBy(col("src"))
              .orderBy(col("cs").desc, col("dst"))
            val adoptedRow = fEdges.unionByName(revDf)
              .withColumn("rn", row_number().over(wF))
              .where(col("rn") <= graphK && col("__new") === 1L)
              .agg(countDistinct(col("src")).as("an"),
                count(lit(1)).as("ae"))
              .collect()(0)
            (nBatch, newEdges.size.toLong, hB, pB, nAffB,
              adoptedRow.getLong(0), adoptedRow.getLong(1))
          }, {
            // ---- leg 2: DELETE+REPAIR (the s51 audit, shared scans;
            // ALL EIGHT scalar counters ride ONE tagged-union job that
            // also materializes the leg's caches — §2.4, one action
            // instead of the previous three) ----
            val gLive = g
              .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
              .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
              .select(col("src"), col("dst")).cache()
            val lost = g.join(del.select(col("id").as("dst")), Seq("dst"))
              .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
              .select(col("src"), col("dst").as("d"))
            val affected = lost.select(col("src")).distinct().cache()
            val promoted = lost
              .join(g.select(col("src").as("d"), col("dst")), Seq("d"))
              .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
              .where(col("dst") =!= col("src"))
              .select(col("src"), col("dst")).distinct().cache()
            val cand = gLive.join(affected, Seq("src"))
              .select(col("src"), col("dst"))
              .unionByName(promoted).distinct()
            val wSrc = Window.partitionBy(col("src"))
              .orderBy(col("cs").desc, col("dst"))
            val repaired = cand
              .join(vecs.select(col("id").as("src"), col("v").as("va")),
                Seq("src"))
              .join(vecs.select(col("id").as("dst"), col("v").as("vb")),
                Seq("dst"))
              .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
              .withColumn("rn", row_number().over(wSrc))
              .where(col("rn") <= graphK)
              .select(col("src"), col("dst")).cache()
            val sampled = affected.where(col("src") % lit(auditMod) === 0L)
            val exactR = Similarity.exactTopKSelf(liveEmb, "v", "id",
              vecs.join(sampled, col("id") === col("src"))
                .select(col("src"), col("v").as("qv")), graphK).cache()
            val cnt: Map[String, Long] = del.select(lit("d").as("t"))
              .unionAll(g.select(lit("e").as("t")))
              .unionAll(gLive.select(lit("l").as("t")))
              .unionAll(affected.select(lit("a").as("t")))
              .unionAll(promoted.select(lit("p").as("t")))
              .unionAll(repaired.select(lit("r").as("t")))
              .unionAll(exactR.select(lit("x").as("t")))
              .unionAll(repaired.join(sampled, Seq("src"))
                .join(exactR, Seq("src", "dst")).select(lit("h").as("t")))
              .groupBy(col("t")).agg(count(lit(1)).as("c"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
              .withDefaultValue(0L)
            exactR.unpersist(); repaired.unpersist(); promoted.unpersist()
            affected.unpersist(); gLive.unpersist()
            (cnt("d"), cnt("e"), cnt("l"), cnt("a"), cnt("p"),
              cnt("r"), cnt("x"), cnt("h"))
          }, {
            // ---- leg 3: SERVE (the s52 audit, strategy totals — the
            // walk and both cuts driver-side, as
            // graphSearchWithTombstones) ----
            val (qframe, nQ) = localQueryFrame(vecs, queryIds)
            require(nQ == queryIds.distinct.size.toLong,
              s"${queryIds.distinct.size - nQ} of ${queryIds.distinct.size} " +
                s"query ids are absent from the corpus id column '$idCol'")
            require(qframe.join(del, col("qid") === col("id")).limit(1)
              .count() == 0L,
              "query ids include tombstoned ids — a deleted query has no " +
                "live ground truth")
            val beamQ0 = scorePairs(spark, vecs, qframe,
              fixedEntries(vecs, mn, queryIds))
            val beamQ = walkBeamLocal(spark, vecs, und, qframe, beamQ0,
              beamWidth, hops, excludeSelf = true)
            val beamIdsDf = beamQ.map(_._2).distinct.map(Tuple1(_)).toDF("id")
            val delInBeam: Set[Long] =
              del.join(broadcast(beamIdsDf), Seq("id"))
                .collect().map(_.getLong(0)).toSet
            val exactSPairs = Similarity.exactTopKSelf(liveEmb, "v", "id",
                qframe.select(col("qid").as("src"), col("qv")), k)
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val exS = exactSPairs.groupBy(_._1)
              .map { case (q, gg) => q -> gg.map(_._2).toSet }
            val pS = exactSPairs.length.toLong
            def legTotals(fetch: Int, truncate: Boolean): (Long, Long) = {
              // toSeq first: mapping a Map to (returned, hits) pairs
              // would re-key on `returned` and silently drop ties
              val perQ = beamQ.groupBy(_._1).toSeq.map { case (q, gg) =>
                val live = topByQ(gg, fetch).filterNot(t => delInBeam(t._2))
                val cut = if (truncate) topByQ(live, k) else live
                val ex = exS.getOrElse(q, Set.empty[Long])
                (cut.size.toLong, cut.count(t => ex(t._2)).toLong)
              }
              (perQ.map(_._1).sum, perQ.map(_._2).sum)
            }
            val (plR, plH) = legTotals(fetch = k, truncate = false)
            val (ovR, ovH) = legTotals(fetch = 2 * k, truncate = true)
            (plR, plH, ovR, ovH, pS)
          })
        val (nBatch, nNewEdges, hB, pB, nAffB, an, ae) = legAppend
        val (nDel, nEdges, nLiveEdges, nAffected, nPromoted,
          nRepaired, pR, hR) = legRepair
        val (plR, plH, ovR, ovH, pS) = legServe
        rows += (("append", "batch", nBatch, None))
        rows += (("append", "new_edges", nNewEdges, None))
        rows += (("append", "new_edge_recall", hB, Some(
          if (pB == 0L) 0.0 else round6(hB.toDouble / pB.toDouble))))
        rows += (("append", "affected_nodes", nAffB, None))
        rows += (("append", "adopted_nodes", an, Some(
          if (nAffB == 0L) 0.0 else round6(an.toDouble / nAffB.toDouble))))
        rows += (("append", "adopted_edges", ae, None))
        rows += (("repair", "deleted_nodes", nDel, None))
        rows += (("repair", "edges_dropped", nEdges - nLiveEdges, None))
        rows += (("repair", "affected_nodes", nAffected, None))
        rows += (("repair", "promoted_candidates", nPromoted, None))
        rows += (("repair", "repaired_edges", nRepaired, None))
        rows += (("repair", "repair_recall", hR, Some(
          if (pR == 0L) 0.0 else round6(hR.toDouble / pR.toDouble))))
        rows += (("serve", "plain", plH, Some(
          if (pS == 0L) 0.0 else round6(plH.toDouble / pS.toDouble))))
        rows += (("serve", "plain_returned", plR, None))
        rows += (("serve", "overfetch", ovH, Some(
          if (pS == 0L) 0.0 else round6(ovH.toDouble / pS.toDouble))))
        rows += (("serve", "overfetch_returned", ovR, None))
        rows += (("serve", "possible", pS, None))
        spark.createDataFrame(rows.toSeq).toDF("stage", "metric", "n", "x")
      } finally {
        und.unpersist(); del.unpersist()
      }
    } finally vecs.unpersist()
  }

  /** GRAPH SEARCH TOP-K — the LEAN serving read (no audit legs): the
    * fixed-hop beam walk against a persisted [[GraphIndex]], cut to
    * each query's top-k by (cosine desc, id asc). This is what the
    * REST index door answers with ([[graphBeamSearchLoaded]] is the
    * recall-audited DIAGNOSTIC — its exact leg is O(|queries|·N),
    * the audit's cost, which a production read must not pay).
    *
    * Serving state: the walk reads the version's NODE FRAME
    * ([[nodeFrame]]: (id, v, nbrs), cached once per (index version,
    * corpus) and released with the version through
    * [[IndexLifecycle.ServingState]]). A request pays one collect of
    * its query vectors plus ONE scoring action per round — the entry
    * round and one per hop. A round joins a local (qid, dst, qv)
    * relation to the frame and returns (qid, dst, cs, nbrs), so the
    * next hop's candidates (beam ∪ the beam's neighbour lists, minus
    * the query, distinct) are built on the driver: no frontier join,
    * no per-request corpus cache. Only this read walks the node
    * frame; the eager audit and mutation walkers
    * ([[graphSearchWithTombstones]], [[graphBeamSearchLoaded]], the
    * append, maintenance and write-back paths) keep their hop loop
    * ([[walkBeamLocal]], [[beamServe]]) over a per-call edge closure.
    *
    * Scale shape: the frame is corpus-sized and built once per
    * version (one shuffle join at the first search); each round moves
    * O(|queries|·beam·degree) rows — the local relation is its
    * broadcast side, the frame never moves — and the final cut is
    * |queries|·k rows (|queries| capped loudly — the Pq batch
    * discipline), so the result is driver-local. Cosine is rounded to
    * 6 dp, the engine-portable contract every scored read here
    * follows.
    *
    * @return one row per (query, rank 1..k): (query_id, neighbor_id,
    *         cosine, rank) — unsorted, callers order
    */
  def graphSearchTopK(corpus: DataFrame, vecCol: String, idCol: String,
      handle: GraphIndex.Handle, queryIds: Seq[Long], k: Int,
      beamWidth: Int, hops: Int,
      coarseEntryK: Option[Int] = None,
      coarseEntryIds: Option[Seq[Long]] = None): DataFrame = {
    require(coarseEntryK.isEmpty || coarseEntryIds.isEmpty,
      "pass coarseEntryK or coarseEntryIds, not both")
    require(k > 0 && beamWidth >= k,
      s"need beamWidth >= k > 0, got k=$k beamWidth=$beamWidth")
    require(hops >= 1, s"bad hops=$hops")
    require(queryIds.nonEmpty && queryIds.distinct.size <= 256,
      s"query batch must be 1..256 ids per call, got ${queryIds.distinct.size}")
    // corpus identity: files (+ sizes, mtimes) AND plan — a filtered
    // view over the same files (s55) must not alias the full corpus
    val key = (idCol, vecCol, AnnIndex.corpusFingerprint(corpus),
      corpus.semanticHash())
    val cut = IndexLifecycle.ServingState.withState[NodeFrame, Seq[
        (Long, Long, Double, Long)]](handle.dir, key)(
        _.corpus.sameSemantics(corpus))(
        nodeFrame(corpus, vecCol, idCol, handle)) { nf =>
      requireHandleMatches(handle, nf.n, nf.mn, idCol, vecCol)
      val qRows = nf.frame.where(col("id").isin(queryIds: _*))
        .select(col("id"), col("v")).collect()
      require(qRows.length == queryIds.distinct.size,
        s"${queryIds.distinct.size - qRows.length} of ${queryIds.distinct.size} " +
          s"query ids are absent from the corpus id column '$idCol'")
      val qvs: Map[Long, Seq[Any]] =
        qRows.toSeq.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.get(1)) }
      val nbrsOf = scala.collection.mutable.HashMap.empty[Long, Seq[Long]]
      // one scoring action: (qid, dst, cs, nbrs) rows, neighbour lists
      // kept for the next hop's expansion
      def collectScored(scored: DataFrame): Seq[BeamRow] =
        scored.collect().toSeq.map { r =>
          nbrsOf(r.getLong(1)) = if (r.isNullAt(3)) Nil else r.getSeq[Long](3)
          (r.getLong(0), r.getLong(1), r.getDouble(2))
        }.distinct
      def scoreRound(pairs: Seq[(Long, Long)]): Seq[BeamRow] = {
        val local = pairs.flatMap { case (q, d) => qvs(q).map(v => Row(q, d, v)) }
        collectScored(nf.spark.createDataFrame(
            java.util.Arrays.asList(local: _*), nf.pairSchema)
          .join(nf.frame.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("qid"), col("dst"),
            Similarity.cosine(col("v"), col("qv")).as("cs"), col("nbrs")))
      }
      var beam: Seq[BeamRow] =
        coarseFrame(nf.frame, nf.mn, coarseEntryK, coarseEntryIds) match {
          case None =>
            // entry per query: the min-id vector, or the second-smallest
            // id when the query is itself the min
            scoreRound(queryIds.distinct.map(q =>
              (q, if (q == nf.mn) nf.alt else nf.mn)))
          case Some(coarse) =>
            // hierarchical entry, the s50 selection without the hop-0
            // audit: argmax over the coarse set, cut driver-side
            val qLocal = nf.spark.createDataFrame(
              java.util.Arrays.asList(qRows: _*),
              StructType(Seq(StructField("qid", LongType),
                nf.pairSchema("qv"))))
            topByQ(collectScored(coarse.crossJoin(broadcast(qLocal))
              .where(col("dst") =!= col("qid"))
              .select(col("qid"), col("dst"),
                Similarity.cosine(col("v"), col("qv")).as("cs"),
                col("nbrs"))), 1)
        }
      var h = 1
      while (h <= hops) {
        val cand = beam.flatMap { case (q, d, _) =>
          (d +: nbrsOf.getOrElse(d, Nil)).collect { case x if x != q => (q, x) }
        }.distinct
        beam = topByQ(scoreRound(cand), beamWidth)
        h += 1
      }
      def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      topByQ(beam, k).groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (q, g) =>
          g.zipWithIndex.map { case ((_, dst, cs), i) =>
            (q, dst, round6(cs), (i + 1).toLong)
          }
        }
    }
    corpus.sparkSession.createDataFrame(cut)
      .toDF("query_id", "neighbor_id", "cosine", "rank")
  }

  /** A graph version's serving state: the node frame — each corpus
    * vector with its undirected neighbour list, (id, v, nbrs) — over
    * rows it owns (`rows`, persisted outside the CacheManager: see
    * [[org.apache.spark.sql.graftbridge.PinnedFrame]]), plus the
    * corpus stats the serve guards need (n, the min id `mn` and the
    * second-smallest `alt`, the entry when a query IS `mn`). `corpus`
    * is the plan it was built from, the identity a later request's
    * corpus must match (`sameSemantics`).
    */
  private final case class NodeFrame(frame: DataFrame,
      rows: org.apache.spark.rdd.RDD[_], corpus: DataFrame,
      n: Long, mn: Long, alt: Long)
      extends IndexLifecycle.ServingState.Releasable {
    def spark: org.apache.spark.sql.SparkSession = frame.sparkSession
    /** The per-round local relation: (qid, dst, qv), qv typed as v. */
    val pairSchema: StructType = StructType(Seq(
      StructField("qid", LongType), StructField("dst", LongType),
      StructField("qv", frame.schema("v").dataType)))
    def release(): Unit = rows.unpersist(blocking = false): Unit
  }

  /** Build a version's [[NodeFrame]]: the corpus (id, v) left-joined to
    * the undirected adjacency grouped by source (`collect_list(dst)`;
    * a mutual edge lists its peer twice, which the walk's driver-side
    * distinct absorbs), pinned and materialized by the stats agg.
    * Runs in the first request's session; the rows are released on
    * failure.
    */
  private def nodeFrame(corpus: DataFrame, vecCol: String, idCol: String,
      handle: GraphIndex.Handle): NodeFrame = {
    val nbrs = undirectedWalk(GraphIndex.edges(corpus.sparkSession, handle))
      .groupBy(col("src").as("id")).agg(collect_list(col("dst")).as("nbrs"))
    val (frame, rows) = org.apache.spark.sql.graftbridge.PinnedFrame(
      graft.ops.ScaleOps.fanOut(corpus)
        .select(col(idCol).as("id"), col(vecCol).as("v"))
        .join(nbrs, Seq("id"), "left"),
      s"graph node frame ${handle.dir}")
    try {
      val stats = frame.agg(count(lit(1)), min(col("id"))).head()
      val n = stats.getLong(0)
      require(n >= 2, "cannot search a graph over fewer than 2 vectors")
      val mn = stats.getLong(1)
      val alt = frame.where(col("id") > lit(mn)).agg(min(col("id"))).head()
      // null only when every id is mn (duplicate ids): such a query
      // enters at itself and the walk's self-exclusion drops it
      NodeFrame(frame, rows, corpus, n, mn,
        if (alt.isNullAt(0)) mn else alt.getLong(0))
    } catch {
      case t: Throwable => rows.unpersist(blocking = false); throw t
    }
  }

  /** GRAPH APPEND WRITE-BACK — the mutation [[graphAppendAudit]]
    * grades, PERSISTED (the r14 verdict's "a real nightly ends by
    * WRITING the new edge table"): search the standing index for
    * each batch vector (the s48 walk), CONNECT it to its beam's best
    * graphK, re-rank every touched node's list against the reverse
    * edges (adoption — this time keeping the full re-ranked list,
    * not just counting adopters), and write
    *
    *   untouched rows ∪ re-ranked affected lists ∪ new-vector lists
    *
    * as a NEW index version via [[GraphIndex.writeBack]] (new dir,
    * meta last — a crash mid-write-back leaves the source version
    * serving and the dest opening as absent). The post-append corpus
    * stats (n + |batch|, min id over both) go to the new meta, so
    * the staleness guard binds the new version to corpus ∪ batch.
    *
    * Write-once reuse: a COMPLETE dest whose params and post-append
    * stats already match is this write-back's own earlier run — the
    * edge set is deterministic — and is opened, not rewritten (the
    * declared-query idempotence the whole index family keeps).
    *
    * Scale shape: |batch|·beam·degree search + ≤|batch|·graphK
    * adoption + ONE full edge-table rewrite at cluster width — the
    * rewrite is the honest cost of a versioned index (same as any
    * LSM compaction); the corpus vectors move only through the
    * rescoring joins. Fully eager (the write is the action); every
    * cache released before returning.
    */
  def graphAppendWriteBack(corpus: DataFrame, batch: DataFrame,
      vecCol: String, idCol: String, handle: GraphIndex.Handle,
      beamWidth: Int, hops: Int, destDir: String): GraphIndex.Handle = {
    val graphK = handle.graphK
    require(beamWidth >= graphK,
      s"need beamWidth >= graphK, got $beamWidth/$graphK")
    require(hops >= 1, s"bad hops=$hops")
    val spark = corpus.sparkSession
    val (vecs, n, mn, _) = servingVecs(corpus, vecCol, idCol)
    try {
      requireHandleMatches(handle, n, mn, idCol, vecCol)
      // batch collected ONCE as a driver-local query frame (the
      // appendCore shape): count/min/collide stats come off the
      // collected rows and every hop's query-side broadcast is free
      val bqPlan = batch.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      val bRows = bqPlan.collect()
      val nBatch = bRows.length.toLong
      require(nBatch > 0, "empty batch")
      val qframe = spark.createDataFrame(
        java.util.Arrays.asList(bRows: _*), bqPlan.schema)
      require(qframe.select(col("qid").as("id"))
        .join(vecs.select(col("id")), Seq("id")).limit(1).count() == 0L,
        "batch ids collide with corpus ids")
      val newN = n + nBatch
      val newMn = math.min(mn, bRows.iterator.map(_.getLong(0)).min)
      GraphIndex.openIfPresent(spark, destDir).filter { d =>
        d.graphK == graphK && d.buildRounds == handle.buildRounds &&
          d.n == newN && d.mn == newMn && d.idCol == idCol &&
          d.vecCol == vecCol
      }.getOrElse {
        import spark.implicits._
        val g = GraphIndex.edges(spark, handle)
        val und = undirectedWalk(g).cache()
        try {
          val beam0 = scorePairsDf(spark, vecs, qframe,
            qframe.select(col("qid"), lit(mn).as("dst")))
          val beam = walkBeamLocal(spark, vecs, und, qframe, beam0,
            beamWidth, hops, excludeSelf = false)
          // CONNECT cut driver-side; the new lists join the rewrite
          // as a batch-bounded LocalRelation
          val newEdges: Seq[BeamRow] = topByQ(beam, graphK)
          // adoption, KEEPING the re-ranked lists (cosine symmetry:
          // the reverse edges reuse the forward scores)
          val rev = newEdges.map(e => (e._2, e._1, e._3))
          val revDf = rev.toDF("src", "dst", "cs")
          val affectedDf = rev.map(_._1).distinct.map(Tuple1(_)).toDF("src")
          val fEdges = g.join(broadcast(affectedDf), Seq("src"))
            .join(vecs.select(col("id").as("src"), col("v").as("va")),
              Seq("src"))
            .join(vecs.select(col("id").as("dst"), col("v").as("vb")),
              Seq("dst"))
            .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
            .select(col("src"), col("dst"), col("cs"))
          val wF = Window.partitionBy(col("src"))
            .orderBy(col("cs").desc, col("dst"))
          val affectedKept = fEdges.unionByName(revDf)
            .withColumn("rn", row_number().over(wF))
            .where(col("rn") <= graphK)
            .select(col("src"), col("dst"))
          val untouched = g.join(broadcast(affectedDf), Seq("src"),
              "left_anti")
            .select(col("src"), col("dst"))
          val newAdj = untouched.unionByName(affectedKept)
            .unionByName(newEdges.map(e => (e._1, e._2)).toDF("src", "dst"))
          GraphIndex.writeBack(handle, newAdj, newN, newMn, destDir)
        } finally und.unpersist()
      }
    } finally vecs.unpersist()
  }

  /** INDEX-ACCELERATED SEMANTIC DEDUP — the kNN graph as the
    * near-dup CANDIDATE GENERATOR: rescore the standing index's
    * edges (N·graphK pairs — LINEAR in the corpus; the pair stage
    * that replaces [[Clustering.semDedup]]'s per-cell quadratic at
    * 100 TB, because the index already paid for neighbor discovery
    * in its nightly build), keep pairs with cosine >= `tau`, close
    * over the undirected tau-graph ([[Dedup.connectedComponents]] —
    * hash-min with pointer jumping), and emit one row per corpus
    * vector: (id, rep = component min id, keep = is-rep).
    *
    * The trade, stated honestly: the graph holds top-graphK lists,
    * so a tau-pair present in NEITHER endpoint's list is invisible —
    * dedup recall is bounded by the index's pair coverage. On
    * near-dup corpora this is the favorable case (true duplicates
    * are each other's top-1 at cosine ≈ 1, so they are always graph
    * edges); when exhaustiveness matters more than reuse, the
    * cell-confined exact pair stage remains the tool. On a
    * complete-graph index the two coincide exactly (spec-pinned).
    *
    * @return (idCol, rep, keep) for every corpus vector — unsorted
    */
  def graphSemDedup(corpus: DataFrame, vecCol: String, idCol: String,
      handle: GraphIndex.Handle, tau: Double): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"bad tau=$tau")
    val (vecs, n, mn, _) = servingVecs(corpus, vecCol, idCol)
    try requireHandleMatches(handle, n, mn, idCol, vecCol)
    catch { case t: Throwable => vecs.unpersist(); throw t }
    val g = GraphIndex.edges(corpus.sparkSession, handle)
    val pairs = g
      .join(vecs.select(col("id").as("src"), col("v").as("va")), Seq("src"))
      .join(vecs.select(col("id").as("dst"), col("v").as("vb")), Seq("dst"))
      .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
      .where(col("cs") >= lit(tau))
      // canonical undirected pair: both directions of a graph edge
      // collapse to one closure edge
      .select(least(col("src"), col("dst")).as("id_a"),
        greatest(col("src"), col("dst")).as("id_b"))
      .where(col("id_a") =!= col("id_b")).distinct()
    // eager closure (probe collect / label propagation) runs while
    // vecs is still cached; the returned labelling is LocalRelation
    // or CacheScope-self-releasing
    val labels = Dedup.connectedComponents(pairs)
    val out = vecs.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("component"), col("id")).as("rep"))
      .withColumn("keep", col("rep") === col(idCol))
    org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUseExisting(vecs)
    out
  }

  /** GRAPH REPAIR WRITE-BACK — [[graphDeleteRepairLoaded]]'s
    * mutation persisted as a NEW index version over the LIVE corpus:
    * drop every edge touching a tombstoned node, repair each node
    * that lost an out-edge by promotion-through-deleted (keeping the
    * repaired lists, not just their recall), and write
    *
    *   untouched live rows ∪ repaired lists
    *
    * via [[GraphIndex.writeBack]] with the live corpus stats
    * (n − |deleted ∩ corpus|, min live id) in the new meta. After
    * the swap the tombstones are actually DROPPABLE: the new version
    * serves the live corpus directly — [[graphBeamSearchLoaded]] /
    * [[graphSearchTopK]] over the tombstone-compacted (non-dense)
    * frame, no over-fetch mitigation needed — and the staleness
    * guard rejects the pre-delete corpus.
    *
    * Scale shape: every step deletion-bound (the s51 discipline) plus
    * the one full edge rewrite a versioned index pays; write-once
    * reuse and crash behavior as [[graphAppendWriteBack]].
    */
  def graphRepairWriteBack(corpus: DataFrame, vecCol: String,
      idCol: String, handle: GraphIndex.Handle, deletedIds: DataFrame,
      delIdCol: String, destDir: String): GraphIndex.Handle = {
    val spark = corpus.sparkSession
    val graphK = handle.graphK
    val (vecs, n, mn, _) = servingVecs(corpus, vecCol, idCol)
    try {
      requireHandleMatches(handle, n, mn, idCol, vecCol)
      val del = deletedIds.select(col(delIdCol).as("id")).distinct()
        .join(vecs.select(col("id")), Seq("id")).cache()
      try {
        val nDel = del.count()
        val live = vecs.join(del, Seq("id"), "left_anti")
          .agg(count(lit(1)).as("n"), min(col("id")).as("mn")).collect()(0)
        val newN = live.getLong(0)
        require(newN >= 2,
          s"repair write-back would leave ${newN} live vectors (deleted $nDel)")
        val newMn = live.getLong(1)
        GraphIndex.openIfPresent(spark, destDir).filter { d =>
          d.graphK == graphK && d.buildRounds == handle.buildRounds &&
            d.n == newN && d.mn == newMn && d.idCol == idCol &&
            d.vecCol == vecCol
        }.getOrElse {
          val g = GraphIndex.edges(spark, handle)
          val gLive = g
            .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
            .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
            .select(col("src"), col("dst"))
          val lost = g.join(del.select(col("id").as("dst")), Seq("dst"))
            .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
            .select(col("src"), col("dst").as("d"))
          val affected = lost.select(col("src")).distinct()
          val promoted = lost
            .join(g.select(col("src").as("d"), col("dst")), Seq("d"))
            .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
            .where(col("dst") =!= col("src"))
            .select(col("src"), col("dst")).distinct()
          val cand = gLive.join(affected, Seq("src"))
            .select(col("src"), col("dst"))
            .unionByName(promoted).distinct()
          val wSrc = Window.partitionBy(col("src"))
            .orderBy(col("cs").desc, col("dst"))
          val repaired = cand
            .join(vecs.select(col("id").as("src"), col("v").as("va")),
              Seq("src"))
            .join(vecs.select(col("id").as("dst"), col("v").as("vb")),
              Seq("dst"))
            .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
            .withColumn("rn", row_number().over(wSrc))
            .where(col("rn") <= graphK)
            .select(col("src"), col("dst"))
          val untouched = gLive.join(affected, Seq("src"), "left_anti")
            .select(col("src"), col("dst"))
          GraphIndex.writeBack(handle, untouched.unionByName(repaired),
            newN, newMn, destDir)
        }
      } finally del.unpersist()
    } finally vecs.unpersist()
  }
}
