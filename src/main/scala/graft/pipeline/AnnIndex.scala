package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Build-once / persist / query-many IVF-PQ index lifecycle.
  *
  * [[Pq.searchTopKIvf]] re-trains the coarse quantizer and codebooks
  * and re-encodes the whole corpus on EVERY call — fine for a
  * one-shot oracle query, wrong for a serving engine at 100 TB where
  * the index is built once and queried thousands of times. This
  * module splits the two phases:
  *
  *  - [[build]] (once): one shared training sample → coarse centroids
  *    + PQ codebooks (driver-side Lloyd, bounded — the FAISS
  *    discipline), then ONE distributed pass assigns cells and
  *    encodes codes, written as a parquet table PARTITIONED BY cell.
  *    Codebooks/centroids/meta persist as tiny side tables.
  *  - [[open]] (per session): reads the three tiny side tables into a
  *    driver [[Handle]] (m·ksub + numCells rows — index metadata,
  *    not data). No corpus IO.
  *  - [[searchTopKVec]]/[[searchTopK]] (many): probe cells are chosen
  *    driver-side against the in-handle centroids and become a
  *    PARTITION filter over the codes table — directory pruning
  *    skips (numCells − nprobe)/numCells of the index files. ADC
  *    scoring runs the same codegen kernel as the retrain path; NO
  *    training job and NO full-corpus scan happens at query time
  *    (plan-pinned in AnnIndexSpec).
  *
  * The vector corpus itself is only touched to resolve a query id to
  * its vector (one pushdown-filtered row) and for the optional exact
  * re-rank of a bounded shortlist — both `isin`-pushdown point reads.
  *
  * Determinism: training is the same hash-ordered-sample Lloyd as the
  * retrain path, so an indexed search returns bit-identical rows to
  * [[Pq.searchTopKIvf]] at equal parameters (spec-pinned) — the index
  * is a materialization, not a different algorithm.
  */
object AnnIndex {

  private val FormatVersion = 1

  /** `numCells` is the ACTUAL cell count (Lloyd drops empty cells);
    * `cellsRequested` is what the build asked for — kept so
    * [[buildIfAbsent]] can tell "requested 8, trained down to 6"
    * from "requested 6" when deciding reuse. `codesSchema` is the
    * codes table's schema (cell included), taken from the written
    * frame at build or inferred once at open, so searches never run
    * a footer-inference job.
    */
  case class Handle(
      dir: String,
      m: Int, ksub: Int, dim: Int, numCells: Int, cellsRequested: Int,
      idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      centroids: Seq[(Long, Array[Double])],
      codesSchema: StructType) {
    def codesPath: String = s"$dir/codes"
  }

  /** The codes table as a lazy scan. The file listing stays per call
    * ([[append]] adds files in place); the schema does not.
    */
  private def codes(spark: SparkSession, h: Handle): DataFrame =
    spark.read.schema(h.codesSchema).parquet(h.codesPath)

  /** Train on one shared bounded sample, then assign + encode the
    * corpus in a single distributed pass and write it back
    * cell-partitioned. Returns an opened [[Handle]].
    *
    * The codes table is repartitioned BY cell before the partitioned
    * write so each cell directory is written by one task — without
    * it every task appends a file to every cell and a 1000-executor
    * build produces numCells × tasks small files.
    */
  def build(
      emb: DataFrame, vecCol: String, idCol: String, dir: String,
      numCells: Int, m: Int, ksub: Int, iters: Int = 3,
      maxTrainRows: Int = 100000): Handle = {
    val sample = Ivf.hashSample(emb, vecCol, idCol, maxTrainRows)
    val coarse = Ivf.trainOnSample(sample, numCells, iters)
    val books = Pq.trainCodebooksOnSample(sample, m, ksub, iters)
    val dim = sample.head.length
    val centPairs = coarse.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    materialize(emb, vecCol, idCol, dir, numCells, m, ksub, dim, centPairs,
      books)
  }

  /** [[build]] with SEEDED quantizers — centroids are the first
    * `numCells` corpus vectors by id and codebooks are
    * [[Pq.seedCodebooks]] (first-ksub sliced subvectors), zero Lloyd —
    * so the PERSISTED index is deterministic data end to end and an
    * external engine can reconstruct build + probe + ADC in SQL
    * (s20's hash-matched twin of the rows-only s15). Same format,
    * same lifecycle (open/reuse/append/registry); retrieval quality
    * is below the trained build, as with every oracle twin.
    */
  def buildSeeded(
      emb: DataFrame, vecCol: String, idCol: String, dir: String,
      numCells: Int, m: Int, ksub: Int): Handle = {
    val cents: Seq[Array[Double]] = emb.orderBy(col(idCol)).limit(numCells)
      .select(transform(col(vecCol), _.cast("double")).as("v"))
      .collect().toSeq.map(_.getSeq[Double](0).toArray)
    require(cents.size == numCells, s"corpus has fewer than $numCells rows")
    val books = Pq.seedCodebooks(emb, vecCol, idCol, m, ksub)
    val centPairs = cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    materialize(emb, vecCol, idCol, dir, numCells, m, ksub, cents.head.length,
      centPairs, books)
  }

  /** The build tail shared by trained and seeded quantizers: one
    * distributed pass assigns cells (literal centroids, map-only) and
    * encodes codes (codegen kernel) — vectors are read once and never
    * again — then the cell-partitioned write and side tables.
    */
  private def materialize(
      emb: DataFrame, vecCol: String, idCol: String, dir: String,
      cellsRequested: Int, m: Int, ksub: Int, dim: Int,
      centPairs: Seq[(Long, Array[Double])],
      books: Array[Array[Array[Double]]]): Handle = {
    // never interleave the overwrite-write with a pending deferred
    // delete of the same path (no-op when the dir is unguarded)
    DirGuard.awaitClearForWrite(dir)
    val indexed = Pq.encode(
      Clustering.assignToCentroidArrays(
        emb.select(col(idCol), col(vecCol)), vecCol, idCol, centPairs),
      vecCol, books)
      .select(col(idCol), col("cell"), col("codes"))
    indexed
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")

    writeSideTables(emb.sparkSession, dir, m, ksub, dim, cellsRequested,
      idCol, vecCol, books, centPairs)
    Handle(dir, m, ksub, dim, centPairs.size, cellsRequested, idCol, vecCol,
      books, centPairs, indexed.schema)
  }

  private def writeSideTables(
      spark: SparkSession, dir: String, m: Int, ksub: Int, dim: Int,
      cellsRequested: Int, idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]],
      centPairs: Seq[(Long, Array[Double])]): Unit = {
    import scala.jdk.CollectionConverters._
    val centSchema = StructType(Seq(
      StructField("cell", LongType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(
      centPairs.map { case (c, v) => Row(c, v.toSeq) }.asJava, centSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cells")

    val bookSchema = StructType(Seq(
      StructField("subspace", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false))))
    val bookRows = for {
      (cb, j) <- books.zipWithIndex.toSeq
      (cent, c) <- cb.zipWithIndex
    } yield Row(j, c, cent.toSeq)
    spark.createDataFrame(bookRows.asJava, bookSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")

    // meta written LAST — its presence marks a complete index, so a
    // killed build can never be opened half-written
    val metaSchema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("m", IntegerType, nullable = false),
      StructField("ksub", IntegerType, nullable = false),
      StructField("dim", IntegerType, nullable = false),
      StructField("num_cells", IntegerType, nullable = false),
      StructField("cells_requested", IntegerType, nullable = false),
      StructField("id_col", StringType, nullable = false),
      StructField("vec_col", StringType, nullable = false)))
    spark.createDataFrame(
      Seq(Row(FormatVersion, m, ksub, dim, centPairs.size, cellsRequested,
        idCol, vecCol)).asJava,
      metaSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Open a persisted index: three tiny reads (meta 1 row, cells
    * numCells rows, codebooks m·ksub rows) into driver arrays. The
    * codes table stays on disk until a search probes it.
    */
  def open(spark: SparkSession, dir: String): Handle = {
    val meta = spark.read.parquet(s"$dir/meta").collect() match {
      case Array(r) => r
      case other => throw new IllegalStateException(
        s"index meta at $dir/meta has ${other.length} rows")
    }
    val version = meta.getInt(0)
    require(version == FormatVersion,
      s"index format $version unsupported (expected $FormatVersion)")
    val (m, ksub, dim) = (meta.getInt(1), meta.getInt(2), meta.getInt(3))
    val sub = dim / m
    val books: Array[Array[Array[Double]]] = {
      val rows = spark.read.parquet(s"$dir/codebooks")
        .orderBy("subspace", "code").collect()
      val byJ = rows.groupBy(_.getInt(0))
      Array.tabulate(m) { j =>
        byJ(j).sortBy(_.getInt(1)).map { r =>
          val c = r.getSeq[Double](2).toArray
          require(c.length == sub, s"codebook centroid dim ${c.length} != $sub")
          c
        }
      }
    }
    val cents = spark.read.parquet(s"$dir/cells").orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    Handle(dir, m, ksub, dim, cents.size, meta.getInt(5), meta.getString(6),
      meta.getString(7), books, cents,
      spark.read.parquet(s"$dir/codes").schema)
  }

  /** Open if a complete index exists at `dir` with matching
    * parameters, else build. The reuse check is against the persisted
    * meta, so a parameter change rebuilds instead of silently serving
    * a stale index.
    *
    * CORPUS identity is the caller's contract: meta records build
    * parameters, not which data was encoded, so `dir` must be derived
    * from a corpus fingerprint (path + mtime/size, a snapshot id, …)
    * — reusing one dir across corpus versions would serve codes from
    * the old data (the s15 query keys its cache dir this way).
    */
  def buildIfAbsent(
      emb: DataFrame, vecCol: String, idCol: String, dir: String,
      numCells: Int, m: Int, ksub: Int, iters: Int = 3,
      maxTrainRows: Int = 100000): Handle = {
    // a condemned dir awaiting its last reader still has meta on disk;
    // wait out the deferred delete so we can't adopt dying files
    DirGuard.awaitClearForWrite(dir)
    val existing =
      openIfPresent(emb.sparkSession, dir).filter { h =>
        // cellsRequested, not numCells: Lloyd may have dropped empty
        // cells, and "requested 8, trained to 6" must reuse while
        // "requested 6" against a request for 8 must rebuild
        h.m == m && h.ksub == ksub && h.idCol == idCol &&
          h.vecCol == vecCol && h.cellsRequested == numCells
      }
    existing.getOrElse(
      build(emb, vecCol, idCol, dir, numCells, m, ksub, iters, maxTrainRows))
  }

  /** [[open]] returning None ONLY for the absent-index case — no meta
    * at `dir`, the designed crash-safety marker, checked explicitly
    * through the path's filesystem (works for any Hadoop scheme, no
    * exception-driven control flow). Anything open() then throws —
    * corrupt parquet, a bad format version, IO errors — propagates:
    * silently rebuilding over those would hide the corruption
    * diagnostic behind an expensive overwrite build.
    */
  private def openIfPresent(spark: SparkSession, dir: String): Option[Handle] = {
    val meta = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(meta)) Some(open(spark, dir)) else None
  }

  /** [[buildIfAbsent]] for the seeded build: the reuse check is the
    * same persisted-meta comparison (seeded and trained indexes never
    * share a `dir` — the caller keys the directory by build flavor,
    * as it already keys it by corpus fingerprint).
    */
  def buildSeededIfAbsent(
      emb: DataFrame, vecCol: String, idCol: String, dir: String,
      numCells: Int, m: Int, ksub: Int): Handle = {
    DirGuard.awaitClearForWrite(dir)
    val existing =
      openIfPresent(emb.sparkSession, dir).filter { h =>
        h.m == m && h.ksub == ksub && h.idCol == idCol &&
          h.vecCol == vecCol && h.cellsRequested == numCells
      }
    existing.getOrElse(buildSeeded(emb, vecCol, idCol, dir, numCells, m, ksub))
  }

  /** Append new vectors to a built index WITHOUT retraining — the
    * nightly-ingest shape: the batch is assigned and encoded with the
    * handle's EXISTING centroids and codebooks (map-only, no training
    * job) and appended to the cell-partitioned codes table. Quantizer
    * quality for the appended rows is whatever the original training
    * distribution gives them — the standard IVF-PQ trade; rebuild
    * when drift warrants it (the build is idempotent-overwrite).
    *
    * Id uniqueness is the caller's contract, like any append-only
    * table: appending an id that already exists yields two code rows
    * and duplicate candidates.
    */
  def append(handle: Handle, emb: DataFrame): Unit = {
    val indexed = Pq.encode(
      Clustering.assignToCentroidArrays(
        emb.select(col(handle.idCol), col(handle.vecCol)),
        handle.vecCol, handle.idCol, handle.centroids),
      handle.vecCol, handle.codebooks)
      .select(col(handle.idCol), col("cell"), col("codes"))
    indexed
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(handle.codesPath)
  }

  /** Top-k by ADC cosine for an explicit query vector — touches ONLY
    * index files: probe cells chosen against in-handle centroids →
    * partition filter on the codes table → ADC codegen kernel → TopK.
    * No training, no corpus read (rerank = 0). With `rerank > 0` the
    * bounded shortlist re-scores against `corpus` via an `isin`
    * pushdown point read, exactly the [[Pq.searchTopKIvf]] shape.
    */
  def searchTopKVec(
      spark: SparkSession, handle: Handle, q: Array[Double], k: Int,
      nprobe: Int, corpus: Option[DataFrame] = None, rerank: Int = 0,
      excludeId: Option[Long] = None, roundAdc: Boolean = false): DataFrame = {
    require(q.length == handle.dim,
      s"query dim ${q.length} != index dim ${handle.dim}")
    require(rerank <= 0 || corpus.nonEmpty,
      "rerank > 0 needs the vector corpus")
    val (dotTab, nrm2Tab, qNorm) = Pq.adcTables(q, handle.codebooks)
    val probeCells: Seq[Long] = Ivf.probeCells(q, handle.centroids, nprobe)
    val idCol = handle.idCol
    val probed = codes(spark, handle)
      .where(col("cell").isin(probeCells: _*))
    val excluded = excludeId match {
      case Some(id) => probed.where(col(idCol) =!= lit(id))
      case None => probed
    }
    // roundAdc = the oracle-twin discipline (Pq.searchTopKSeeded):
    // score and ORDER on the 6-dp-rounded ADC so the top-k cut is
    // engine-independent of group-sum accumulation order
    val rawAdc = graft.functions.PqExpressions.pqAdcScore(
      col("codes"), dotTab, nrm2Tab, qNorm)
    val topAdc = excluded
      .withColumn("adc_sim", if (roundAdc) round(rawAdc, 6) else rawAdc)
      .where(col("adc_sim").isNotNull)
      .select(col(idCol), col("adc_sim"))
      .orderBy(col("adc_sim").desc, col(idCol))
      .limit(math.max(k, rerank))
    corpus match {
      case Some(c) if rerank > 0 =>
        Pq.rerankStage(c, handle.vecCol, idCol, topAdc, q, k, rerank)
      case _ => topAdc.limit(k)
    }
  }

  /** [[searchTopKVec]] with the query addressed by corpus id: ONE
    * pushdown-filtered row resolves the vector, the id is excluded
    * from the neighbors (single-query search semantics).
    */
  def searchTopK(
      corpus: DataFrame, handle: Handle, queryId: Long, k: Int,
      nprobe: Int, rerank: Int = 0, roundAdc: Boolean = false): DataFrame = {
    val q = Pq.collectQuery(corpus, handle.vecCol, handle.idCol, queryId)
    searchTopKVec(corpus.sparkSession, handle, q, k, nprobe,
      corpus = Some(corpus), rerank = rerank, excludeId = Some(queryId),
      roundAdc = roundAdc)
  }

  /** Batch indexed search: top-k for every query row in ONE pass over
    * the UNION of all probed cells. Each query's ADC column is masked
    * to its own probe set (`cell IN (...)` per query), so per-query
    * semantics match [[searchTopKVec]]; the rank filter on a literal
    * k keeps InferWindowGroupLimit applicable — map-side forwarding
    * is capped at k per query.
    */
  def searchTopKBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      queryIdCol: String, vecCol: String, k: Int, nprobe: Int,
      maxQueryRows: Int = 1000): DataFrame = {
    // id cast to long like the vector elements to double: an int-typed
    // query id column must work, not ClassCastException on getLong
    val qRows = queries.select(col(queryIdCol).cast("long"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .limit(maxQueryRows + 1)
      .collect()
    require(qRows.length <= maxQueryRows,
      s"query batch exceeds maxQueryRows=$maxQueryRows")
    require(qRows.nonEmpty, "empty query batch")
    val idCol = handle.idCol
    val planned = qRows.toSeq.map { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      require(q.length == handle.dim,
        s"query $qid dim ${q.length} != index dim ${handle.dim}")
      val (dotTab, nrm2Tab, qNorm) = Pq.adcTables(q, handle.codebooks)
      val probes = handle.centroids
        .map { case (cell, cv) => (cell, Ivf.cosineLocal(q, cv)) }
        .sortBy { case (cell, s) => (-s, cell) }
        .take(nprobe).map(_._1)
      (qid, dotTab, nrm2Tab, qNorm, probes)
    }
    val allCells = planned.flatMap(_._5).distinct
    val scoreCols: Seq[Column] = planned.map {
      case (qid, dotTab, nrm2Tab, qNorm, probes) =>
        struct(lit(qid).as("query_id"),
          when(col("cell").isin(probes: _*),
            graft.functions.PqExpressions.pqAdcScore(col("codes"), dotTab,
              nrm2Tab, qNorm)).as("adc_sim"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_sim").desc, col(idCol))
    codes(spark, handle)
      .where(col("cell").isin(allCells: _*))
      .select(col(idCol), col("cell"), explode(array(scoreCols: _*)).as("qs"))
      .select(col("qs.query_id").as("query_id"), col(idCol),
        col("qs.adc_sim").as("adc_sim"))
      .where(col("adc_sim").isNotNull)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("adc_sim"),
        col("rank").cast("long").as("rank"))
  }

  // ---- session-level registry ----------------------------------
  // The registry/guard machinery is the SHARED [[IndexLifecycle]]
  // (extracted round 21 so the graph family gets the same concurrency
  // discipline); AnnIndex keeps its historical public surface as thin
  // delegation plus type aliases for the typed exceptions.

  private val reg = new IndexLifecycle.IndexRegistry[Handle](_.dir)

  /** The reader-vs-delete guard shared with [[GraphIndex]] (one
    * global guard keyed by dir — dirs are unique per definition).
    */
  private def DirGuard = IndexLifecycle.DirGuard

  def register(name: String, handle: Handle): Unit =
    reg.register(name, handle)
  def get(name: String): Option[Handle] = reg.get(name)
  def drop(name: String): Boolean = reg.drop(name)
  def list(): Seq[String] = reg.list()

  /** [[drop]] that also deletes the persisted index directory — the
    * serving DELETE semantics. A long-lived session cycling many
    * indexes must not accumulate dead codes tables in its spool until
    * teardown; the dir is keyed by name+table+flavor+params+corpus
    * fingerprint, so no other handle can share it.
    *
    * Deletion is DEFERRED while any reader (a search/append that
    * entered via [[withReader]]) still holds the old handle: the files
    * are removed by the last reader's release, never under a running
    * job — a concurrent search completes against intact files instead
    * of dying on FileNotFoundException mid-stage. New readers that
    * arrive after the drop are refused at acquire time.
    */
  def dropAndDelete(name: String): Boolean = reg.dropAndDelete(name)

  /** Run `body` (a search or append against `handle`'s files) under
    * the dir's reader count: a concurrent drop/rebuild defers file
    * deletion until this reader releases. Throws
    * [[IndexDroppedException]] if the dir was already condemned —
    * the serving layer maps that to its not-found response.
    */
  def withReader[T](handle: Handle)(body: => T): T = reg.withReader(handle)(body)

  /** Historical name for [[IndexLifecycle.IndexDroppedException]]. */
  type IndexDroppedException = IndexLifecycle.IndexDroppedException

  /** Recursive delete of a persisted index dir — see
    * [[IndexLifecycle.deleteDirTree]] (meta subtree first).
    */
  def deleteDirTree(dir: String): Unit = IndexLifecycle.deleteDirTree(dir)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Corpus identity for index cache keys: input file paths + size +
    * mtime (the s15 discipline — a path-keyed cache would serve codes
    * encoded from old data after an in-place re-ingest). In-memory
    * corpora (no input files) hash the schema only; re-registering one
    * in place with new data needs an explicit DELETE to force rebuild.
    *
    * Files are stat'ed through the Hadoop FileSystem of each path's
    * own scheme, so hdfs:/s3a:/file: corpora all get the size+mtime
    * staleness guard — java.nio would throw for non-file schemes and
    * silently degrade to path-only identity on exactly the
    * deployments most likely to re-ingest in place. A stat failure
    * still falls back to the bare path, but loudly.
    */
  def corpusFingerprint(df: DataFrame): String = {
    val files = df.inputFiles.sorted
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val parts: Array[String] =
      if (files.isEmpty) Array("mem|" + df.schema.catalogString)
      else files.map { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f|${st.getLen}|${st.getModificationTime}"
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("corpusFingerprint: stat of {} failed ({}); falling " +
              "back to path-only identity — size/mtime staleness " +
              "protection is OFF for this file", f, e.toString)
            f
        }
      }
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.arrayHash(parts).toLong & 0xffffffffL)
  }

  /** Atomic open-or-rebuild: reuse the registered handle iff it was
    * built into the SAME dir (the dir encodes table, flavor, params,
    * and corpus fingerprint, so dir equality IS the full definition
    * check); otherwise rebuild inside the per-key `compute` — two
    * concurrent POSTs with different params for one name serialize,
    * and each response's handle matches its own request body (no
    * check-then-act window). The superseded definition's files are
    * CONDEMNED, not deleted inline: a search still holding the old
    * handle finishes against intact files and the last reader's
    * release reclaims them — param churn still can't accumulate dead
    * directories, it just can't break in-flight queries either.
    */
  def openOrRebuildCached(name: String, dir: String)(build: => Handle): Handle =
    reg.openOrRebuildCached(name, dir)(build)

  /** [[openOrRebuildCached]] with an EXACT per-prefix cap on new
    * names. The count-and-admit runs under one lock with a
    * reservation set, so N concurrent first-POSTs of distinct new
    * names admit exactly `cap − current` of them — no check-then-act
    * window — while rebuild POSTs of existing names always pass and
    * builds themselves still run unserialized outside the lock.
    */
  def openOrRebuildCachedBounded(
      name: String, dir: String, prefix: String, cap: Int)(
      build: => Handle): Handle =
    reg.openOrRebuildCachedBounded(name, dir, prefix, cap)(build)

  /** Historical name for [[IndexLifecycle.IndexCapExceededException]]. */
  type IndexCapExceededException = IndexLifecycle.IndexCapExceededException

  /** Registry-cached open-or-build: the first call builds (or opens a
    * persisted) index and registers it; later calls are a map lookup.
    * Concurrent first calls serialize on the key — one builds, the
    * rest wait and share the handle.
    */
  def openOrBuildCached(
      name: String, emb: DataFrame, vecCol: String, idCol: String,
      dir: String, numCells: Int, m: Int, ksub: Int, iters: Int = 3,
      maxTrainRows: Int = 100000): Handle =
    reg.openOrBuildCached(name)(
      buildIfAbsent(emb, vecCol, idCol, dir, numCells, m, ksub, iters,
        maxTrainRows))

  /** [[openOrBuildCached]] for the seeded build (the s20 oracle twin's
    * lifecycle entry — name and dir are the caller's to key by flavor).
    */
  def openOrBuildCachedSeeded(
      name: String, emb: DataFrame, vecCol: String, idCol: String,
      dir: String, numCells: Int, m: Int, ksub: Int): Handle =
    reg.openOrBuildCached(name)(
      buildSeededIfAbsent(emb, vecCol, idCol, dir, numCells, m, ksub))
}
