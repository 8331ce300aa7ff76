package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import scala.jdk.CollectionConverters._

/** One API session = one isolated Spark catalog namespace.
  *
  * Mirrors the reference's session model
  * (`lib/src/context/session_manager.rs:25-37, 210-305`): a named (or
  * UUID) context with its own table catalog and a TTL refreshed on
  * every access, reaped by a 1 s interval worker
  * (`lib/src/server/interval_worker.rs:17-33`). `keepAliveSecs = 0`
  * means immortal, as documented in the reference's operation guide.
  *
  * The Spark analogue of a per-session DataFusion `SessionContext` is
  * `root.newSession()`: shares the SparkContext (executors, caches)
  * but has an isolated temp-view catalog and SQLConf — cheap to
  * create per request, safe for concurrent reads.
  */
final class SessionHandle(
    val id: String,
    val spark: SparkSession,
    val keepAliveSecs: Long,
    val createdAt: Long) {

  @volatile private var lastAccessMs: Long = System.currentTimeMillis()

  /** Registered data sources: name → definition (for detail/refresh). */
  val dataSources = new ConcurrentHashMap[String, DataSourceDef]()

  /** The raw ingest request behind each data source, kept so refresh
    * re-ingests with the ORIGINAL options (delimiter, jsonPath,
    * connector pluginOptions, …), not reconstructed defaults. Opaque
    * to the engine (the serving layer owns the request type); evicted
    * with the table and with the session.
    */
  val rawDataSourceReqs = new ConcurrentHashMap[String, AnyRef]()

  /** Frames this session has .cache()'d (CTAS / INSERT states and the
    * last recursive-CTE accumulator):
    * unpersisted on replacement and on session removal — Spark's
    * CacheManager is shared across newSession()s, so an unreleased
    * cache would outlive the session.
    */
  val cachedFrames = new ConcurrentHashMap[String, DataFrame]()

  /** Per-session spool directory for buffered ingest (HTTP bytes,
    * uploads); deleted on session removal.
    */
  lazy val spoolDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-session-")
    d.toFile.deleteOnExit()
    d
  }

  def touch(): Unit = lastAccessMs = System.currentTimeMillis()

  /** Remaining TTL in seconds (reference `session.rs:148-162`). */
  def ttlSecs: Long =
    if (keepAliveSecs <= 0) Long.MaxValue
    else keepAliveSecs - (System.currentTimeMillis() - lastAccessMs) / 1000

  def expired: Boolean = keepAliveSecs > 0 && ttlSecs <= 0
}

/** A registered data source's definition — enough to describe it
  * back to a client and to refresh (re-ingest) it
  * (`session_manager.rs:477-491`).
  */
final case class DataSourceDef(
    name: String,
    format: String,
    location: Option[String],
    schemaJson: Option[String])

final class SessionManager(root: SparkSession, reaperPeriodMs: Long = 1000L) {

  private val sessions = new ConcurrentHashMap[String, SessionHandle]()

  // Closure-heavy operators (Dedup.connectedComponents) cut physical
  // lineage with a RELIABLE checkpoint only when the context has a
  // checkpoint dir, falling back to localCheckpoint — whose blocks
  // are unrecoverable on executor loss, i.e. exactly safe only in
  // local mode. The server path must get the fault-tolerant cut BY
  // CONSTRUCTION, not only when a deployer remembered to configure
  // one: default a scratch dir here, scoped under spark.local.dir
  // (the disk Spark already spills to). An explicitly-set checkpoint
  // dir always wins — and on a multi-node cluster deployers SHOULD
  // set one on shared storage (HDFS/object store), since a node-local
  // default is only reachable by that node's executors. The dir is
  // deleted on shutdown(); the closure additionally deletes each
  // checkpoint's files as soon as they are superseded.
  private val ownedCheckpointDir: Option[java.nio.file.Path] =
    if (root.sparkContext.getCheckpointDir.isDefined) None
    else {
      val base = java.nio.file.Paths.get(
        root.sparkContext.getConf.get("spark.local.dir",
          System.getProperty("java.io.tmpdir")))
      val dir = java.nio.file.Files.createTempDirectory(base, "graft-ckpt-")
      root.sparkContext.setCheckpointDir(dir.toString)
      Some(dir)
    }

  /** Optional `table@ns` federation hook (SURVEY §2.A10-A11). */
  @volatile var resolver: Option[Federation.NamespaceResolver] = None

  private val reaper: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-session-reaper")
      t.setDaemon(true)
      t
    }
  reaper.scheduleAtFixedRate(() => reap(), reaperPeriodMs, reaperPeriodMs, TimeUnit.MILLISECONDS)

  /** Create a session (named or UUID), default TTL 3600 s like the
    * reference (`lib/src/settings.rs:211`).
    */
  def create(id: Option[String] = None, keepAliveSecs: Long = 3600L): SessionHandle = {
    val sid = id.getOrElse(UUID.randomUUID().toString)
    val h = new SessionHandle(sid, root.newSession(), keepAliveSecs, System.currentTimeMillis())
    // newSession() builds a FRESH function registry (temp functions do
    // not inherit from the root session), so every API session must
    // re-register the dialect shims + SQL kernels or session-route SQL
    // like date_bin/sha256/cosine_similarity fails UNRESOLVED_ROUTINE
    // (caught by a live probe; SessionManagerSpec pins it now)
    graft.sqlcompat.CompatFunctions.registerAll(h.spark)
    val prev = sessions.putIfAbsent(sid, h)
    if (prev != null) throw new IllegalArgumentException(s"session exists: $sid")
    h
  }

  /** Lookup; touches the TTL (reference `session.rs:154-158`). */
  def get(id: String): Option[SessionHandle] =
    Option(sessions.get(id)).filterNot(_.expired).map { h => h.touch(); h }

  def list: Seq[SessionHandle] = sessions.values().asScala.toSeq.filterNot(_.expired)

  def remove(id: String): Boolean = Option(sessions.remove(id)) match {
    case Some(h) =>
      // release shared-CacheManager entries and spooled ingest bytes
      h.cachedFrames.keySet().asScala.toSeq.foreach(release(h, _))
      // session-scoped index handles (both families) die with the
      // session (their files live under the spool and go with the
      // recursive delete). Graph versions are condemned, not just
      // dropped: that releases their cached node frames, and a search
      // still in flight cannot leave a fresh one behind on a dead dir
      graft.pipeline.AnnIndex.list().filter(_.startsWith(id + "/"))
        .foreach(graft.pipeline.AnnIndex.drop)
      graft.pipeline.GraphIndex.list().filter(_.startsWith(id + "/"))
        .foreach(graft.pipeline.GraphIndex.dropAndDelete)
      try {
        val d = h.spoolDir.toFile
        // recursive: the spool holds TREES now (cell-partitioned index
        // write-backs), not just flat ingest files
        if (d.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(d)
      } catch { case _: Throwable => () }
      true
    case None => false
  }

  /** Register a DataFrame as a session table + record its definition
    * and the request refresh re-ingests (none for an upload or a DDL,
    * so a refresh cannot resurrect a replaced source's data).
    * The frame must have been built from `h.spark` — temp views land
    * in the catalog of the frame's own session, so a root-session
    * frame would silently register in the wrong (shared) catalog.
    */
  def registerTable(h: SessionHandle, df: DataFrame, ds: DataSourceDef,
      request: Option[AnyRef] = None): Unit = {
    require(df.sparkSession eq h.spark,
      s"DataFrame for '${ds.name}' was built from a different SparkSession " +
        s"than session '${h.id}' — use h.spark.read... so the temp view " +
        "lands in the session's isolated catalog")
    replaceTable(h, ds.name, df)
    h.dataSources.put(ds.name, ds)
    request match {
      case Some(r) => h.rawDataSourceReqs.put(ds.name, r)
      case None => h.rawDataSourceReqs.remove(ds.name)
    }
    h.touch()
  }

  /** Replace a table's view (a merge result keeps its data-source
    * record); any materialized state of the name is released.
    */
  def replaceTable(h: SessionHandle, name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    release(h, name)
  }

  def removeTable(h: SessionHandle, name: String): Boolean = {
    forget(h, name)
    h.spark.catalog.dropTempView(name)
  }

  /** Drop a table's records and materialized state, not its view. */
  private def forget(h: SessionHandle, name: String): Unit = {
    h.dataSources.remove(name)
    h.rawDataSourceReqs.remove(name)
    release(h, name)
  }

  /** Release a materialized state from the shared CacheManager. */
  private def release(h: SessionHandle, name: String): Unit =
    Option(h.cachedFrames.remove(name)).foreach(df =>
      try df.unpersist(): Unit catch { case _: Throwable => () })

  /** SQL with the compat pre-rewrite (`session.rs:658-673` analogue:
    * the single delegation point from serving layer to engine).
    */
  def sql(h: SessionHandle, sqlText: String): DataFrame = {
    h.touch()
    val rewritten0 = resolver match {
      case Some(r) => Federation.prepare(h, sqlText, r)
      case None    => graft.sqlcompat.SqlRewrite.rewrite(sqlText)
    }
    // information_schema.{tables,columns} → synthetic catalog views
    val rewritten =
      if (graft.sqlcompat.InfoSchema.references(rewritten0))
        graft.sqlcompat.InfoSchema.prepare(h.spark, rewritten0)
      else rewritten0
    // WITH RECURSIVE has no Spark counterpart — driver-side fixpoint
    // loop over distributed iterations (SURVEY §2.B known gap, closed)
    if (graft.sqlcompat.RecursiveCte.isRecursive(rewritten))
      // the fixpoint accumulator stays cached (its lineage would
      // replay every iteration otherwise); RecursiveCte reports the
      // ACTUAL cached frame (not the tail result) so session removal
      // releases it from the shared CacheManager
      // only the LAST recursion's result stays cached per session
      // (unbounded per-statement retention grew without limit); an
      // older result still streaming simply recomputes from lineage
      graft.sqlcompat.RecursiveCte.execute(h.spark, rewritten,
        onCached = df => trackTable(h)("__rcte_last", df))
    else if (graft.sqlcompat.InsertInto.appliesTo(h.spark, rewritten))
      // mem-table append: each insert materializes the new table
      // state; the previous state's cache is released on replacement
      // (and all of them on session removal). Catalog tables and
      // INSERT forms the mem-table parser doesn't cover fall through
      // to spark.sql (appliesTo is false).
      graft.sqlcompat.InsertInto.execute(h.spark, rewritten, onNewState = trackTable(h))
    else if (graft.sqlcompat.ExternalTable.appliesTo(rewritten))
      createExternalTable(h, rewritten)
    else if (graft.sqlcompat.MemDdl.isCtas(rewritten))
      graft.sqlcompat.MemDdl.createTableAs(h.spark, rewritten, onNewState = trackTable(h))
    else if (graft.sqlcompat.MemDdl.appliesToDrop(h.spark, rewritten))
      graft.sqlcompat.MemDdl.dropTable(h.spark, rewritten, onDropped = forget(h, _))
    else h.spark.sql(rewritten)
  }

  /** `CREATE EXTERNAL TABLE` (DataFusion DDL through the SQL door —
    * reference `lib/src/context/session.rs:664`): bind a lazy scan
    * over the location as a session table. Registered as a
    * data-source record too, so the REST datasource list/detail/
    * remove routes see it like any route-registered source. Returns
    * DataFusion's shape for DDL: an empty relation.
    */
  private def createExternalTable(h: SessionHandle, sqlText: String): DataFrame = {
    val p = graft.sqlcompat.ExternalTable.parse(sqlText).get
    if (h.spark.catalog.tableExists(p.table)) {
      if (p.ifNotExists) return h.spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"CREATE EXTERNAL TABLE: table exists: ${p.table}")
    }
    // DataFusion rejects invalid option keys ("Config value ... not
    // found") rather than ignoring them — a typo like
    // 'format.has_headr' must error, not silently fall back to the
    // default.
    val supportedOptions = Set("format.has_header", "format.delimiter")
    val unknown = p.options.keySet.diff(supportedOptions)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"CREATE EXTERNAL TABLE: unsupported OPTIONS key(s): " +
        s"${unknown.toSeq.sorted.mkString(", ")} " +
        s"(supported: ${supportedOptions.toSeq.sorted.mkString(", ")})")
    val hasHeader = p.options.get("format.has_header").forall { v =>
      if (v.equalsIgnoreCase("true")) true
      else if (v.equalsIgnoreCase("false")) false
      else throw new IllegalArgumentException(
        s"CREATE EXTERNAL TABLE: format.has_header must be true or false, got '$v'")
    }
    val delimiter = p.options.get("format.delimiter").map { v =>
      if (v.length == 1) v.head
      else throw new IllegalArgumentException(
        s"CREATE EXTERNAL TABLE: format.delimiter must be a single character, got '$v'")
    }.getOrElse(',')
    // DataFusion's JSON is line-delimited
    val format = p.format match {
      case "PARQUET" | "CSV" | "AVRO" | "ARROW" => p.format.toLowerCase
      case "JSON" | "NDJSON" => "ndjson"
      case other => throw new IllegalArgumentException(
        s"CREATE EXTERNAL TABLE: unsupported STORED AS $other " +
          "(expected PARQUET, CSV, JSON, NDJSON, AVRO or ARROW)")
    }
    val df = graft.ingest.Readers.read(h.spark, format,
      graft.ingest.Readers.Source.Location(p.location),
      graft.ingest.IngestOptions(hasHeader = hasHeader, delimiter = delimiter))
    registerTable(h, df, DataSourceDef(p.table, p.format.toLowerCase,
      Some(p.location), None))
    h.spark.emptyDataFrame
  }

  /** Cache-lifecycle tracker for materialized mem-table states
    * (INSERT INTO / CTAS): replacing a state releases the previous
    * one; session removal releases them all.
    */
  private def trackTable(h: SessionHandle): (String, DataFrame) => Unit = {
    (table, df) =>
      // plain table name: the SAME namespace the merge processor and
      // removeTable use, so replacement releases whichever path
      // materialized the previous state. A table replaced by SQL is no
      // longer the registered source's data: its datasource record
      // goes, so a refresh 404s instead of silently reverting it
      forget(h, table)
      h.cachedFrames.put(table, df): Unit
  }

  private def reap(): Unit =
    // go through remove() so TTL-expired sessions release their cached
    // frames (shared CacheManager) and spooled ingest files, exactly like
    // an explicit DELETE — bypassing it leaked cache memory JVM-wide
    sessions.values().asScala.filter(_.expired).foreach(h => remove(h.id))

  def shutdown(): Unit = {
    reaper.shutdownNow()
    ownedCheckpointDir.foreach { d =>
      try org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      catch { case _: Throwable => () }
    }: Unit
  }
}
