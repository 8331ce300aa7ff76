package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** PERSISTED kNN-GRAPH index — the graph-ANN family's
  * build-once/serve-many lifecycle, completing index-lifecycle
  * symmetry with the coarse-quantizer family ([[AnnIndex]]): the s45
  * NN-descent build (ring init + undirected refinement rounds, Dong
  * et al. WWW'11) runs ONCE as a nightly job and its directed top-k
  * adjacency goes to parquet; every serving read (the
  * [[GraphAnn.graphBeamSearchLoaded]] beam walk) and every batch
  * insert ([[GraphAnn.graphAppendAuditLoaded]]) then runs against the
  * LOADED edge table. At 100 TB this is the only shape that works:
  * the build's per-round ≤4·N·k² rescoring join is a batch job, while
  * a query touches O(beam·degree·hops) vectors — rebuilding the graph
  * inside every read (what the r13 declared queries did) bills ~2/3
  * of each serving call to work a real system does nightly.
  *
  * On-disk layout (the [[AnnIndex]] discipline):
  *   dir/edges — (src, dst) directed adjacency, N·graphK rows,
  *               written at cluster-width parallelism (NOT coalesced:
  *               the edge table scales with the corpus)
  *   dir/meta  — 1 row, written LAST so its presence marks a complete
  *               index; a killed build can never be opened
  *               half-written
  *
  * CORPUS identity is the caller's contract, as for [[AnnIndex]]:
  * meta records build parameters and corpus stats (n, min id), not
  * which data produced them, so `dir` must be keyed by a corpus
  * fingerprint. [[open]] cross-checks (n, mn, columns) loudly at
  * serve time, which catches same-size in-place regeneration only via
  * the caller's fingerprint — the declared queries key by file
  * mtime+size exactly like the s15 IVF-PQ index.
  *
  * Reference behavior modeled: the HNSW-class serve path
  * (Malkov & Yashunin, public literature) — build once, persist,
  * search many, insert incrementally.
  */
object GraphIndex {
  val FormatVersion = 1

  /** An opened index: parameters + corpus stats from meta; the edge
    * table stays on disk until a search reads it. `edgesSchema` is
    * the schema the edge table was written with, captured once at
    * build or open so a read never runs a footer-inference job.
    */
  final case class Handle(dir: String, graphK: Int, buildRounds: Int,
      n: Long, mn: Long, idCol: String, vecCol: String,
      edgesSchema: StructType) {
    def edgesPath: String = s"$dir/edges"
  }

  /** The directed adjacency as a lazy parquet scan. The eager audit
    * and mutation walkers cache its undirected closure for one call;
    * the lean serving read ([[GraphAnn.graphSearchTopK]]) folds it
    * into the version's cached node frame, built once and released
    * with the version ([[IndexLifecycle.ServingState]]).
    */
  def edges(spark: SparkSession, h: Handle): DataFrame =
    spark.read.schema(h.edgesSchema).parquet(h.edgesPath)

  /** Build the NN-descent graph over `emb` and persist it under
    * `dir`. The edge SET is deterministic (every top-k window orders
    * cosine desc, id asc — a total order), so a search against the
    * loaded index is bit-identical to one against an in-query build
    * with the same parameters (spec-pinned) — file order on disk is
    * not part of the contract.
    */
  def build(emb: DataFrame, vecCol: String, idCol: String, dir: String,
      graphK: Int, buildRounds: Int): Handle = {
    require(graphK > 0, s"graphK must be positive, got $graphK")
    require(buildRounds >= 0, s"buildRounds must be >= 0, got $buildRounds")
    val spark = emb.sparkSession
    // never interleave with a pending deferred delete of this path
    // (no-op when the dir is unguarded — the AnnIndex discipline)
    IndexLifecycle.DirGuard.awaitClearForWrite(dir)
    // REBUILD crash-safety (round-21 advice): a param-change rebuild
    // lands here with the PREVIOUS build's meta still on disk. Delete
    // it FIRST — restoring the designed absent-index marker — so a
    // crash between the edges overwrite and the meta write leaves a
    // visibly-incomplete dir, never an old meta describing new or
    // partial edge files that open() would serve silently.
    dropMeta(spark, dir)
    val vecs = graft.ops.ScaleOps.fanOut(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v")).cache()
    val meta = vecs.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx")).collect()(0)
    val (n, mn, mx) = (meta.getLong(0), meta.getLong(1), meta.getLong(2))
    require(n >= 2, "cannot index a graph over fewer than 2 vectors")
    require(mx - mn + 1L == n,
      s"ring init needs a dense id column: ids span [$mn,$mx] but count is $n")
    val g = GraphAnn.buildRingGraph(vecs, n, mn, graphK, buildRounds)
    val written = g.select(col("src"), col("dst"))
    written.write.mode("overwrite").parquet(s"$dir/edges")
    g.unpersist()
    vecs.unpersist()
    writeMeta(spark, dir, graphK, buildRounds, n, mn, idCol, vecCol)
    Handle(dir, graphK, buildRounds, n, mn, idCol, vecCol, written.schema)
  }

  private def dropMeta(spark: SparkSession, dir: String): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath)) fs.delete(metaPath, true): Unit
  }

  /** meta written LAST — the crash-safety marker (AnnIndex:131
    * note): its presence marks a complete index, so a killed write
    * can never be opened half-written.
    */
  private def writeMeta(spark: SparkSession, dir: String, graphK: Int,
      buildRounds: Int, n: Long, mn: Long, idCol: String,
      vecCol: String): Unit = {
    val metaSchema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("graph_k", IntegerType, nullable = false),
      StructField("build_rounds", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("mn", LongType, nullable = false),
      StructField("id_col", StringType, nullable = false),
      StructField("vec_col", StringType, nullable = false)))
    spark.createDataFrame(
      Seq(Row(FormatVersion, graphK, buildRounds, n, mn, idCol,
        vecCol)).asJava, metaSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** WRITE-BACK: persist a MUTATED adjacency (an append's
    * connected+adopted lists, a repair's promoted lists) as a NEW
    * index VERSION in its own directory. Versions are immutable —
    * the write never touches the source dir, so readers mid-search
    * on the old edges are structurally safe (no
    * redefinition-under-load race to manage), and the swap is a
    * registry pointer move with the old dir condemned under
    * [[IndexLifecycle.DirGuard]] once no reader holds it.
    *
    * Crash-safety is the build's own discipline at the destination:
    * `destDir/meta` is written LAST, so a crash mid-write-back
    * leaves a dest that opens as ABSENT while the source version
    * still serves — the nightly reruns, nothing is half-adopted.
    *
    * `edges` must carry (src, dst); (n, mn) are the POST-mutation
    * corpus stats the staleness guard will check at serve time —
    * the caller computes them from the same frames that produced
    * the mutation (the [[GraphAnn.graphAppendWriteBack]] /
    * [[GraphAnn.graphRepairWriteBack]] contracts). Written at
    * cluster width like the build (the edge table scales with the
    * corpus).
    */
  def writeBack(src: Handle, edges: DataFrame, n: Long, mn: Long,
      destDir: String): Handle = {
    require(destDir != src.dir,
      s"write-back must target a NEW version dir, not the source ($destDir)")
    require(n >= 1, s"write-back over an empty corpus (n=$n)")
    val spark = edges.sparkSession
    IndexLifecycle.DirGuard.awaitClearForWrite(destDir)
    dropMeta(spark, destDir)
    val written = edges.select(col("src"), col("dst"))
    written.write.mode("overwrite").parquet(s"$destDir/edges")
    writeMeta(spark, destDir, src.graphK, src.buildRounds, n, mn,
      src.idCol, src.vecCol)
    Handle(destDir, src.graphK, src.buildRounds, n, mn, src.idCol,
      src.vecCol, written.schema)
  }

  /** Open a persisted index: one tiny meta read plus the edge
    * table's footer schema (the only inference its reads ever pay).
    */
  def open(spark: SparkSession, dir: String): Handle = {
    val meta = spark.read.parquet(s"$dir/meta").collect() match {
      case Array(r) => r
      case other => throw new IllegalStateException(
        s"graph index meta at $dir/meta has ${other.length} rows")
    }
    val version = meta.getInt(0)
    require(version == FormatVersion,
      s"graph index format $version unsupported (expected $FormatVersion)")
    Handle(dir, meta.getInt(1), meta.getInt(2), meta.getLong(3),
      meta.getLong(4), meta.getString(5), meta.getString(6),
      spark.read.parquet(s"$dir/edges").schema)
  }

  /** [[open]] returning None ONLY for the absent-index case (no meta
    * at `dir` — the designed crash-safety marker, checked through the
    * path's own filesystem scheme). Anything open() then throws
    * propagates: silently rebuilding over corruption would hide the
    * diagnostic behind an expensive overwrite build (AnnIndex:244).
    */
  private[pipeline] def openIfPresent(spark: SparkSession,
      dir: String): Option[Handle] = {
    val meta = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(meta)) Some(open(spark, dir)) else None
  }

  /** Open if a complete index with MATCHING parameters exists at
    * `dir`, else build — a parameter change rebuilds instead of
    * silently serving a stale graph.
    *
    * Concurrency contract: the serving door (HttpServer `type:
    * "graph"`, round 21) redefines names ONLY through
    * [[openOrRebuildCachedBounded]] — dir-per-definition keys, the
    * superseded dir condemned under [[IndexLifecycle.DirGuard]] and
    * reclaimed by its last reader — and mutates ONLY through
    * [[writeBack]] into a NEW version dir. A LIBRARY caller who
    * bypasses both and rebuilds into the SAME dir with different
    * parameters while another thread is mid-search on the old edges
    * still races that reader (overwrite-in-place); such callers must
    * key the new definition to a NEW dir (include the params in the
    * fingerprint key, as the declared queries do).
    */
  def buildIfAbsent(emb: DataFrame, vecCol: String, idCol: String,
      dir: String, graphK: Int, buildRounds: Int): Handle = {
    val existing = openIfPresent(emb.sparkSession, dir).filter { h =>
      h.graphK == graphK && h.buildRounds == buildRounds &&
        h.idCol == idCol && h.vecCol == vecCol
    }
    existing.getOrElse(build(emb, vecCol, idCol, dir, graphK, buildRounds))
  }

  /** Registry-cached open-or-build (the s15 lifecycle entry): the
    * first call per `name` builds (or opens the persisted) index;
    * later calls are a map lookup. Concurrent first calls serialize
    * on the key — one builds, the rest share the handle.
    */
  def openOrBuildCached(name: String, emb: DataFrame, vecCol: String,
      idCol: String, dir: String, graphK: Int,
      buildRounds: Int): Handle =
    reg.openOrBuildCached(name)(
      buildIfAbsent(emb, vecCol, idCol, dir, graphK, buildRounds))

  // ---- session-level registry (the serving door's surface) -------
  // Since round 21 the graph index IS exposed through the REST index
  // door (HttpServer `type: "graph"`), so the full [[IndexLifecycle]]
  // discipline applies: reads run under the dir's reader count,
  // DELETE condemns with deferred file deletion, a param-change
  // re-POST condemns the superseded dir, and write-back swaps the
  // registry pointer to the new version's dir. Every one of those
  // moves — and a plain [[drop]] — also releases the version's
  // cached node frames (IndexLifecycle.ServingState), once the
  // searches using them finish.

  private val reg = new IndexLifecycle.IndexRegistry[Handle](_.dir)

  def register(name: String, handle: Handle): Unit =
    reg.register(name, handle)
  def get(name: String): Option[Handle] = reg.get(name)
  def drop(name: String): Boolean = reg.drop(name)
  def list(): Seq[String] = reg.list()

  /** [[drop]] + deferred deletion of the persisted dir (the serving
    * DELETE): files go when the last in-flight reader releases.
    */
  def dropAndDelete(name: String): Boolean = reg.dropAndDelete(name)

  /** Run a search/append against `handle`'s files under the dir's
    * reader count; throws [[IndexLifecycle.IndexDroppedException]]
    * on a lost drop race.
    */
  def withReader[T](handle: Handle)(body: => T): T =
    reg.withReader(handle)(body)

  /** Atomic reuse-or-rebuild for the serving door (dir equality is
    * the definition check; a superseded dir is condemned, never
    * deleted under readers), with the exact per-session cap.
    */
  def openOrRebuildCachedBounded(name: String, dir: String,
      prefix: String, cap: Int)(build: => Handle): Handle =
    reg.openOrRebuildCachedBounded(name, dir, prefix, cap)(build)

  /** Swap `name` to a NEW version's handle (post-write-back): the
    * superseded version's dir is condemned — deferred-deleted under
    * the reader guard — unless it is the same dir. Runs inside the
    * registry's per-key compute, so concurrent swaps serialize.
    */
  def swapTo(name: String, next: Handle): Handle =
    reg.openOrRebuildCached(name, next.dir)(next)

  /** Atomic read-mutate-swap for the serving door's append: `f`
    * (e.g. [[GraphAnn.graphAppendWriteBack]] into a fresh version
    * dir) runs inside the per-key compute, so concurrent appends to
    * one name serialize — each starts from the latest version, no
    * lost update — and a concurrent DELETE waits; the superseded
    * dir is condemned. None if the name is not registered.
    */
  def mutateExisting(name: String)(f: Handle => Handle): Option[Handle] =
    reg.mutateExisting(name)(f)
}
