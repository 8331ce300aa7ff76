package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{DataSourceDef, SessionHandle, SessionManager}
import graft.ingest.{IngestOptions, Readers, SchemaDsl}
import graft.ops.MergeProcessor
import graft.pipeline.{AnnIndex, GraphAnn, GraphIndex, IndexLifecycle}

import java.net.InetSocketAddress
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import scala.util.control.NonFatal

/** REST serving surface (SURVEY §3, §2.A25-A27) on the JDK's
  * built-in HTTP server — zero extra dependencies.
  *
  * Routes (mirroring `lib/src/server/routes.rs:24-57`):
  *   POST   /dataframe/query          one-shot: ingest → merge → SQL → encode
  *   POST   /session                  create (optional ?id=&keepAlive=)
  *   GET    /session/create           create, reference's route shape (?id=&keepAlive=)
  *   GET    /session                  list
  *   GET    /session/{id}             detail {id, created, ttl}
  *   DELETE /session/{id}             destroy
  *   POST   /session/{id}/query       {sql} JSON or raw application/sql
  *   POST   /session/{id}/datasource  add data sources (JSON array or single)
  *   POST   /session/{id}/datasource/upload  multipart/form-data file parts
  *   POST   /session/{id}/datasource/save    write tables back to files → 204
  *   GET    /session/{id}/datasource  list registered sources
  *   GET    /session/{id}/datasource/{name}  schema detail
  *   DELETE /session/{id}/datasource/{name}  remove
  *   GET|POST /session/{id}/datasource/{name}/refresh  re-ingest (reference: GET)
  *   POST   /session/{id}/processor   standalone merge processors → 204
  *   POST   /session/{id}/index      build+register an index {name, table, type?, ...}
  *   GET    /session/{id}/index      list session indexes
  *   GET    /session/{id}/index/{name}         meta detail
  *   DELETE /session/{id}/index/{name}         drop the handle
  *   POST   /session/{id}/index/{name}/append  {table} — encode with existing quantizers
  *   POST   /session/{id}/index/{name}/repair  graph only: {deletedTable, corpusTable}
  *   POST   /session/{id}/index/{name}/search  {queryId|vector, k, nprobe, rerank}
  *   GET    /healthz                  204
  *   GET    /sysinfo                  version info
  *   GET    /metrics                  Prometheus text
  *
  * Request bodies are parsed by [[Api]], data sources read through
  * [[graft.ingest.Readers.read]], and a session's table state is
  * written only by [[SessionManager]].
  */
final class GraftServer(root: SparkSession, port: Int = 0) {

  val sessions = new SessionManager(root)
  /** Prometheus-format operational metrics (§2.A27). */
  val metrics = new Metrics
  /** Results of repeated session SQL, shared by every session. */
  val resultCache = new ResultCache
  /** Upload size cap, 20 MB default (reference `settings.rs:213`). */
  @volatile var uploadLimitBytes: Int = 20 * 1024 * 1024
  private val server = JdkHttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = Executors.newFixedThreadPool(8, (r: Runnable) =>
    new Thread(r, s"graft-http-${GraftServer.threadSeq.incrementAndGet()}"))
  server.setExecutor(pool)

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = server.start()

  /** Stop accepting, then retire the handler pool: in-flight handlers
    * get a short grace period before they are interrupted, so a
    * stopped server leaves no `graft-http-*` thread behind.
    */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdownNow(): Unit
    sessions.shutdown()
    resultCache.clear()
  }

  // --------------------------------------------------------------

  server.createContext("/healthz", (ex: HttpExchange) => safely(ex) {
    ex.sendResponseHeaders(204, -1)
  })

  server.createContext("/sysinfo", (ex: HttpExchange) => safely(ex) {
    respondJson(ex, 200,
      s"""{"name":"graft","version":"0.1.0","sparkVersion":"${root.version}"}""")
  })

  server.createContext("/metrics", (ex: HttpExchange) => safely(ex) {
    respond(ex, 200, "text/plain; version=0.0.4", metrics.render(sessions.list.size, resultCache))
  })

  server.createContext("/dataframe/query", (ex: HttpExchange) => safely(ex) {
    if (ex.getRequestMethod != "POST") respondJson(ex, 405, err("POST only"))
    else handleDataFrameQuery(ex)
  })

  private def handleDataFrameQuery(ex: HttpExchange): Unit = {
    val keepAlive = query(ex).getOrElse("keepAlive", "60").toLong
    val req = Api.parseDataFrameQuery(readBody(ex))
    // ephemeral session (reference: response/handler/dataframe.rs:33-36)
    val h = sessions.create(None, keepAlive)
    metrics.sessionsCreated.increment()
    try {
      req.dataSources.foreach(ingest(h, _))
      req.processors.foreach(applyMerge(h, _))
      req.query match {
        case Some(q) =>
          val df = Processors.applyAll(sessions.sql(h, q.sql), q.postProcessors)
          respondData(ex, df, req.response.format)
        case None => respondJson(ex, 200, """{"status":"ok"}""")
      }
    } finally { sessions.remove(h.id): Unit } // buffered path destroys the session
  }

  server.createContext("/session", (ex: HttpExchange) => safely(ex) {
    val path = ex.getRequestURI.getPath.stripPrefix("/session").stripPrefix("/")
    val parts = if (path.isEmpty) Array.empty[String] else path.split("/")
    (ex.getRequestMethod, parts) match {
      // the reference's session-create route is a GET with query
      // params (server/routes.rs:30, handler session.rs:50-66) — a
      // doc-following client must not fall through to the by-id
      // lookup below and 404
      case ("POST", Array()) | ("GET", Array("create")) =>
        val q = query(ex)
        val h = sessions.create(q.get("id"), q.getOrElse("keepAlive", "3600").toLong)
        metrics.sessionsCreated.increment()
        respondJson(ex, 200, sessionJson(h))
      case ("GET", Array()) =>
        respondJson(ex, 200,
          sessions.list.sortBy(_.createdAt).map(sessionJson).mkString("[", ",", "]"))
      case ("GET", Array(id)) =>
        withSession(ex, id)(h => respondJson(ex, 200, sessionJson(h)))
      case ("DELETE", Array(id)) =>
        if (sessions.remove(id)) respondJson(ex, 200, """{"status":"deleted"}""")
        else respondJson(ex, 404, err(s"no such session: $id"))
      case ("POST", Array(id, "query")) =>
        withSession(ex, id) { h =>
          val req = Api.parseSessionQuery(readBody(ex), contentType(ex))
          val df = Processors.applyAll(sessions.sql(h, req.query.sql), req.query.postProcessors)
          val format = negotiate(ex, req.response.format)
          respondStream(ex, format)(resultCache.serve(df, format, _))
        }
      case ("POST", Array(id, "datasource", "upload")) =>
        withSession(ex, id) { h =>
          val boundary = Multipart.boundaryOf(contentType(ex)).getOrElse(
            throw new IllegalArgumentException("multipart/form-data with boundary required"))
          val parts = Multipart.parse(readBytes(ex), boundary).filter(_.body.nonEmpty)
          if (parts.isEmpty) throw new IllegalArgumentException("no file parts")
          parts.foreach { part =>
            val fmt = Readers.sniffFormat(part.contentType, part.filename)
              .getOrElse(throw new IllegalArgumentException(
                s"cannot sniff format of ${part.filename.orElse(part.name).getOrElse("part")}"))
            val name = part.name.orElse(part.filename.map(_.split('.').head))
              .getOrElse(throw new IllegalArgumentException("part needs a name"))
            val df = Readers.read(h.spark, fmt, Readers.Source.Bytes(part.body),
              IngestOptions(spoolDir = Some(h.spoolDir)))
            // no recorded request: a later refresh cannot resurrect the
            // data of a location-backed table this upload replaced
            sessions.registerTable(h, df, DataSourceDef(name, fmt, None, None))
          }
          respondJson(ex, 200, s"""{"status":"ok","tables":${parts.size}}""")
        }
      case ("POST", Array(id, "datasource")) =>
        withSession(ex, id) { h =>
          Api.parseDataSourceDefs(readBody(ex)).foreach(ingest(h, _))
          respondJson(ex, 200, """{"status":"ok"}""")
        }
      // write registered tables back to files (reference
      // `POST /:session_id/datasource/save`, routes.rs:35 →
      // save_to_file/save_to_object_store): each entry names a
      // session table and a destination location + format
      case ("POST", Array(id, "datasource", "save")) =>
        withSession(ex, id) { h =>
          Api.parseDataSourceDefs(readBody(ex)).foreach { ds =>
            val loc = ds.location.getOrElse(
              throw new IllegalArgumentException(s"save of ${ds.name}: location required"))
            if (!h.spark.catalog.tableExists(ds.name))
              throw new IllegalArgumentException(s"no such table: ${ds.name}")
            val df = h.spark.table(ds.name)
            ds.format.toLowerCase match {
              case "csv" => graft.ops.Sinks.writeCsv(df, loc,
                header = ds.options.hasHeader, delimiter = ds.options.delimiter)
              case "ndjson" => graft.ops.Sinks.writeNdJson(df, loc)
              case "parquet" => graft.ops.Sinks.writeParquet(df, loc)
              case "json" => graft.ops.Sinks.writeJsonArrayFile(df, loc,
                overwrite = ds.options.overwrite)
              case other =>
                throw new IllegalArgumentException(s"unsupported save format: $other")
            }
          }
          ex.sendResponseHeaders(204, -1)
        }
      case ("GET", Array(id, "datasource")) =>
        withSession(ex, id) { h =>
          respondJson(ex, 200, h.dataSources.values().asScala.toSeq.sortBy(_.name)
            .map(d => s"""{"name":${jstr(d.name)},"format":${jstr(d.format)}}""")
            .mkString("[", ",", "]"))
        }
      case ("POST", Array(id, "processor")) =>
        // standalone merge-processor route (reference `routes.rs:42`,
        // `processor.rs:15-35`): run merges against the session
        // OUTSIDE any query request. Only an ABSENT mergeProcessors
        // field is the reference's 400 "Processors not specified"; a
        // present-but-empty array executes zero merges and is 204.
        withSession(ex, id) { h =>
          Api.parseProcessorBody(readBody(ex)) match {
            case None =>
              respondJson(ex, 400, err("Processors not specified"))
            case Some(merges) =>
              merges.foreach(applyMerge(h, _))
              ex.sendResponseHeaders(204, -1)
          }
        }
      case ("POST" | "GET", Array(id, "datasource", name, "refresh")) =>
        // re-ingest from the recorded definition (A26 refresh,
        // reference session_manager.rs:477-491). GET accepted because
        // the reference serves refresh as GET (`routes.rs:38-41`);
        // POST kept for the existing clients of this repo's door.
        withSession(ex, id) { h =>
          Option(h.dataSources.get(name)) match {
            case Some(d) =>
              // the original request (options, pluginOptions) when the
              // source came through this door; reconstructed defaults
              // only for tables registered without one (e.g. upload)
              val req = Option(h.rawDataSourceReqs.get(name))
                .collect { case r: Api.DataSourceReq => r }
                .getOrElse(Api.DataSourceReq(d.format, d.name, d.location, None,
                  d.schemaJson, Api.Options()))
              if (req.location.isEmpty && req.data.isEmpty) {
                // no recorded source to re-read (e.g. multipart upload):
                // a clear conflict beats ingest's "location or data
                // required" surfacing as a confusing 400
                respondJson(ex, 409, err(
                  s"dataSource $name has no refreshable source (registered from uploaded data)"))
              } else {
                // refresh REPLACES the table by definition — the original
                // overwrite=false guard must not veto its own refresh
                ingest(h, req.copy(options = req.options.copy(overwrite = true)))
                respondJson(ex, 200, """{"status":"refreshed"}""")
              }
            case None => respondJson(ex, 404, err(s"no such dataSource: $name"))
          }
        }
      case ("GET", Array(id, "datasource", name)) =>
        withSession(ex, id) { h =>
          Option(h.dataSources.get(name)) match {
            case Some(d) =>
              val schema = SchemaDsl.toJson(h.spark.table(name).schema)
              respondJson(ex, 200,
                s"""{"name":${jstr(d.name)},"format":${jstr(d.format)},"schema":$schema}""")
            case None => respondJson(ex, 404, err(s"no such dataSource: $name"))
          }
        }
      case ("DELETE", Array(id, "datasource", name)) =>
        withSession(ex, id) { h =>
          if (sessions.removeTable(h, name)) respondJson(ex, 200, """{"status":"deleted"}""")
          else respondJson(ex, 404, err(s"no such dataSource: $name"))
        }

      // ---- index CRUD (extension; serving twin of the persisted
      // index lifecycles — IVF-PQ via AnnIndex and, since round 21,
      // the kNN graph via GraphIndex behind `"type": "graph"`. The
      // registry key is session-scoped, files live in the session
      // spool and die with it; both families share the
      // IndexLifecycle reader/condemn discipline.)
      case ("POST", Array(id, "index")) =>
        withSession(ex, id) { h =>
          val req = Api.parseIndex(readBody(ex))
          import req.{name, table, vecCol, idCol}
          val corpus = h.spark.table(table)
          val regKey = s"${h.id}/$name"
          // one NAME, one index: a name held by the other family is
          // refused, not shadowed — GET/DELETE/search dispatch by
          // name, so a cross-family redefinition would be ambiguous
          def dirFor(leaf: String): String = {
            // the dir is the index DEFINITION: name and table as
            // their own validated path segments, then flavor + every
            // build parameter + the corpus fingerprint in the leaf —
            // so a changed table, flavor, param, or re-ingested
            // corpus can never open the previous definition's files
            val dirPath = h.spoolDir.resolve("index").resolve(name)
              .resolve(table).resolve(leaf)
            // defense in depth behind the identifier validation:
            // never write outside the session spool
            require(dirPath.normalize().startsWith(h.spoolDir.normalize()),
              s"index dir escapes the session spool: $dirPath")
            dirPath.toString
          }
          val fp = AnnIndex.corpusFingerprint(corpus)
          // the cap is enforced EXACTLY inside each registry (lock +
          // reservation set), so N concurrent first-POSTs of distinct
          // new names can't all slip past a stale count; re-POSTs of
          // an existing name (rebuilds) always pass. reuse-or-rebuild
          // stays atomic per registry key (compute): concurrent POSTs
          // with different params serialize, and each 200's handle
          // matches its own request body
          try {
            if (req.indexType == "graph") {
              if (AnnIndex.get(regKey).nonEmpty)
                respondJson(ex, 409, err(
                  s"index name $name is held by an ivf index; DELETE it first"))
              else {
                import req.{graphK, buildRounds}
                val dir = dirFor(s"graph-gk$graphK-r$buildRounds-$vecCol-$idCol-$fp")
                val handle = GraphIndex.openOrRebuildCachedBounded(
                  regKey, dir, h.id + "/", GraftServer.MaxIndexesPerSession) {
                  GraphIndex.buildIfAbsent(corpus, vecCol, idCol, dir, graphK, buildRounds)
                }
                respondJson(ex, 200, graphIndexJson(name, handle))
              }
            } else {
              if (GraphIndex.get(regKey).nonEmpty)
                respondJson(ex, 409, err(
                  s"index name $name is held by a graph index; DELETE it first"))
              else {
                import req.{seeded, numCells, m, ksub, iters}
                val flavor = if (seeded) "seeded" else s"trained-i$iters"
                val dir = dirFor(s"$flavor-c$numCells-m$m-k$ksub-$vecCol-$idCol-$fp")
                val handle = AnnIndex.openOrRebuildCachedBounded(
                  regKey, dir, h.id + "/", GraftServer.MaxIndexesPerSession) {
                  if (seeded) AnnIndex.buildSeededIfAbsent(
                    corpus, vecCol, idCol, dir, numCells, m, ksub)
                  else AnnIndex.buildIfAbsent(
                    corpus, vecCol, idCol, dir, numCells, m, ksub, iters)
                }
                respondJson(ex, 200, indexJson(name, handle))
              }
            }
          } catch {
            case _: IndexLifecycle.IndexCapExceededException =>
              respondJson(ex, 429, err(
                s"session $id has ${GraftServer.MaxIndexesPerSession} indexes (limit); DELETE one first"))
          }
        }
      case ("GET", Array(id, "index")) =>
        withSession(ex, id) { h =>
          respondJson(ex, 200, (AnnIndex.list() ++ GraphIndex.list())
            .filter(_.startsWith(h.id + "/")).sorted
            .map(k => jstr(k.stripPrefix(h.id + "/"))).mkString("[", ",", "]"))
        }
      case ("GET", Array(id, "index", name)) =>
        withSession(ex, id) { h =>
          AnnIndex.get(s"${h.id}/$name").map(indexJson(name, _))
            .orElse(GraphIndex.get(s"${h.id}/$name").map(graphIndexJson(name, _))) match {
            case Some(json) => respondJson(ex, 200, json)
            case None => noIndex(ex, name)
          }
        }
      case ("DELETE", Array(id, "index", name)) =>
        withSession(ex, id) { h =>
          // dropAndDelete, not drop: the serving DELETE removes the
          // persisted codes/edge tables too, so a session cycling many
          // indexes doesn't accumulate dead directories until teardown
          if (AnnIndex.dropAndDelete(s"${h.id}/$name") ||
            GraphIndex.dropAndDelete(s"${h.id}/$name"))
            respondJson(ex, 200, """{"status":"deleted"}""")
          else noIndex(ex, name)
        }
      case ("POST", Array(id, "index", name, "append")) =>
        withSession(ex, id) { h =>
          AnnIndex.get(s"${h.id}/$name") match {
            // graph append: [[GraphAnn.graphAppendWriteBack]].
            // Optimistic-concurrency contract (spec-pinned in
            // IndexLifecycleFuzzSpec): `corpusTable` must match the
            // handle's CURRENT corpus. When two appends race, the loser
            // starts from the winner's new version and its stale
            // corpusTable fails the staleness guard loudly — the client
            // retries with the refreshed corpus. A conflict is never
            // resolved by silently dropping a batch.
            case None => graphWriteBack(ex, h, name) { body =>
              val req = Api.parseAppend(body)
              val corpusTable = req.corpusTable.getOrElse(throw new IllegalArgumentException(
                "graph append requires corpusTable (the standing corpus the " +
                  "index was built over)"))
              (hd, destDir) => GraphAnn.graphAppendWriteBack(
                h.spark.table(corpusTable), h.spark.table(req.table),
                hd.vecCol, hd.idCol, hd, req.beamWidth.getOrElse(2 * hd.graphK),
                req.hops, destDir)
            }
            case Some(hd) =>
              val table = Api.parseAppend(readBody(ex)).table
              whileReading(ex, name)(AnnIndex.withReader(hd) {
                AnnIndex.append(hd, h.spark.table(table))
                respondJson(ex, 200, """{"status":"appended"}""")
              })
          }
        }
      // graph repair: [[GraphAnn.graphRepairWriteBack]]
      // — the door's delete-vectors move: the new version serves the
      // tombstone-compacted corpus directly. 400 for an ivf index (its
      // compaction story is rebuild — POST the build route again).
      case ("POST", Array(id, "index", name, "repair")) =>
        withSession(ex, id) { h =>
          if (AnnIndex.get(s"${h.id}/$name").nonEmpty)
            respondJson(ex, 400, err(
              s"repair applies to graph indexes; $name is ivf (re-POST the build to compact)"))
          else graphWriteBack(ex, h, name) { body =>
            val req = Api.parseRepair(body)
            (hd, destDir) => GraphAnn.graphRepairWriteBack(
              h.spark.table(req.corpusTable), hd.vecCol, hd.idCol, hd,
              h.spark.table(req.deletedTable), hd.idCol, destDir)
          }
        }
      case ("POST", Array(id, "index", name, "search")) =>
        withSession(ex, id) { h =>
          AnnIndex.get(s"${h.id}/$name") match {
            case None => graphSearch(ex, h, name)
            case Some(hd) =>
              val req = Api.parseIvfSearch(readBody(ex))
              import req.{k, rerank, table}
              val nprobe = req.nprobe.getOrElse(hd.numCells)
              // the whole plan-and-materialize runs under the reader
              // count, so the search can't die on FileNotFoundException
              // mid-job
              whileReading(ex, name)(AnnIndex.withReader(hd) {
                val df = req.queryId match {
                  case Some(qid) =>
                    val corpus = h.spark.table(table.getOrElse(
                      throw new IllegalArgumentException("table required with queryId")))
                    AnnIndex.searchTopK(corpus, hd, qid, k, nprobe, rerank)
                  case None =>
                    val q = req.vector.getOrElse(
                      throw new IllegalArgumentException("queryId or vector required"))
                    AnnIndex.searchTopKVec(h.spark, hd, q, k,
                      nprobe, corpus = table.map(h.spark.table), rerank = rerank)
                }
                respondData(ex, df, req.response.format)
              })
          }
        }
      case _ => respondJson(ex, 404, err("not found"))
    }
  })

  // --------------------------------------------------------------

  /** Scheme×format ingest (`session_manager.rs:336-421`): a location
    * with a registered custom scheme goes to the embedder's connector
    * (reference A23: data_source/connector_plugin.rs:19-106); an
    * HTTP(S) location is fetched, then read as bytes (reference A1/A3:
    * data_source/transport/http.rs:24-40); anything else is read
    * through [[Readers.read]] from its location or inline data.
    */
  private def ingest(h: SessionHandle, ds: Api.DataSourceReq): Unit = {
    val opts = IngestOptions(
      hasHeader = ds.options.hasHeader,
      inferSchemaRows = ds.options.inferSchemaRows,
      delimiter = ds.options.delimiter,
      jsonPath = ds.options.jsonPath,
      requireNormalize = ds.options.requireNormalize,
      schema = ds.schemaJson.map(SchemaDsl.fromJson),
      spoolDir = Some(h.spoolDir))
    if (!ds.options.overwrite && h.spark.catalog.tableExists(ds.name))
      throw new IllegalArgumentException(s"table exists: ${ds.name} (overwrite=false)")
    val df = ds.location.flatMap(l => Connectors.forLocation(l).map { case (_, c) =>
      c(h.spark, java.net.URI.create(l), ds.pluginOptions, ds.schemaJson)
    }).getOrElse {
      val source = (ds.location, ds.data) match {
        case (Some(url), _) if url.startsWith("http://") || url.startsWith("https://") =>
          Readers.Source.Bytes(fetch(url))
        case (Some(loc), _) => Readers.Source.Location(loc)
        case (None, Some(text)) => Readers.Source.Inline(text)
        case (None, None) => throw new IllegalArgumentException(
          s"dataSource ${ds.name}: location or data required for ${ds.format.toLowerCase}")
      }
      Readers.read(h.spark, ds.format, source, opts, ds.options.version)
    }
    sessions.registerTable(h, df,
      DataSourceDef(ds.name, ds.format, ds.location, ds.schemaJson), Some(ds))
    metrics.dataSourcesRegistered.increment()
  }

  /** GET an HTTP(S) location through the same bounded reader as request
    * bodies, so a large remote body can't exhaust the driver heap (and
    * fail fast on a Content-Length that already exceeds the cap).
    */
  private def fetch(url: String): Array[Byte] = {
    val resp = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofInputStream())
    val in = resp.body()
    try {
      if (resp.statusCode() >= 400)
        throw new IllegalArgumentException(s"fetch of $url failed: HTTP ${resp.statusCode()}")
      readBounded(in, resp.headers().firstValueAsLong("Content-Length").toScala,
        s"fetch of $url")
    } finally in.close()
  }

  /** Merge-processor step (`session.rs:550-656`): the merged plan
    * replaces the base table (reference: session.rs:646-652).
    */
  private def applyMerge(h: SessionHandle, m: Api.MergeProcessorReq): Unit = {
    val base = h.spark.table(m.baseTable)
    val merged = m.direction match {
      case "column" =>
        MergeProcessor.mergeColumns(base, m.targets.map(t =>
          MergeProcessor.ColumnTarget(t.table, h.spark.table(t.table), t.baseKeys, t.targetKeys)))
      case "row" =>
        MergeProcessor.mergeRows(base, m.targetTables.map(h.spark.table), m.distinct)
      case d => throw new IllegalArgumentException(s"unknown merge direction: $d")
    }
    sessions.replaceTable(h, m.baseTable, merged)
    if (m.removeAfterMerged) {
      val removable = (m.targets.map(_.table) ++ m.targetTables).distinct
        .filterNot(_ == m.baseTable)
      removable.foreach(sessions.removeTable(h, _))
    }
  }

  // --------------------------------------------------------------

  private def withSession(ex: HttpExchange, id: String)(f: SessionHandle => Unit): Unit =
    sessions.get(id) match {
      case Some(h) => f(h)
      case None    => respondJson(ex, 404, err(s"no such session: $id"))
    }

  private def negotiate(ex: HttpExchange, bodyFormat: Option[String]): ResponseEncoders.Format =
    ResponseEncoders.negotiate(bodyFormat, Option(ex.getRequestHeaders.getFirst("Accept")))

  private def respondData(ex: HttpExchange, df: DataFrame, bodyFormat: Option[String]): Unit = {
    val fmt = negotiate(ex, bodyFormat)
    respondStream(ex, fmt)(ResponseEncoders.encode(df, fmt, _))
  }

  /** Streamed delivery (reference A15): chunked transfer, the
    * encoder pulls the result incrementally (`toLocalIterator` /
    * partition-at-a-time Arrow batches) — memory stays bounded by a
    * partition, not the result set. The terminating chunk is sent
    * only after `write` returns, so whatever `write` does after its
    * last byte (the result cache admitting an entry) happens before
    * the client sees the end of the response.
    */
  private def respondStream(ex: HttpExchange, fmt: ResponseEncoders.Format)
      (write: java.io.OutputStream => Unit): Unit = {
    ex.getResponseHeaders.set("Content-Type", fmt.contentType)
    ex.sendResponseHeaders(200, 0) // 0 = chunked
    val out = ex.getResponseBody
    try { write(out); out.close() }
    catch { case e: Throwable =>
      // headers are committed: abort the exchange WITHOUT the clean
      // zero-chunk terminator so clients see a truncated transfer,
      // and don't fall through to safely()'s second respond
      System.err.println(s"[graft] mid-stream failure: ${e.getMessage}")
      ex.close()
    }
  }

  private def sessionJson(h: SessionHandle): String = {
    val ttl = if (h.ttlSecs == Long.MaxValue) -1 else h.ttlSecs
    s"""{"id":${jstr(h.id)},"created":${h.createdAt / 1000},"ttl":$ttl}"""
  }

  private def indexJson(name: String, h: AnnIndex.Handle): String =
    s"""{"name":${jstr(name)},"m":${h.m},"ksub":${h.ksub},"dim":${h.dim},""" +
      s""""numCells":${h.numCells},"idCol":${jstr(h.idCol)},""" +
      s""""vecCol":${jstr(h.vecCol)}}"""

  private def graphIndexJson(name: String, h: GraphIndex.Handle): String =
    s"""{"name":${jstr(name)},"type":"graph","graphK":${h.graphK},""" +
      s""""buildRounds":${h.buildRounds},"n":${h.n},"mn":${h.mn},""" +
      s""""idCol":${jstr(h.idCol)},"vecCol":${jstr(h.vecCol)}}"""

  /** Graph-index serve read: the LEAN top-k walk
    * ([[GraphAnn.graphSearchTopK]] — no audit legs).
    * Queries address corpus ids (the graph family's serving contract;
    * an explicit-vector query would first be appended).
    */
  private def graphSearch(ex: HttpExchange, h: SessionHandle, name: String): Unit =
    GraphIndex.get(s"${h.id}/$name") match {
      case None => noIndex(ex, name)
      case Some(hd) =>
        val req = Api.parseGraphSearch(readBody(ex))
        whileReading(ex, name)(GraphIndex.withReader(hd) {
          respondData(ex, GraphAnn.graphSearchTopK(
            h.spark.table(req.table), hd.vecCol, hd.idCol, hd, req.queryIds, req.k,
            req.beamWidth, req.hops, req.coarseEntryK), req.response.format)
        })
    }

  /** `read` runs under an index dir's reader count: a concurrent DROP
    * or rebuild defers file deletion until the response is written,
    * and a lost race (dir already condemned) answers like a missing
    * index.
    */
  private def whileReading(ex: HttpExchange, name: String)(read: => Unit): Unit =
    try read catch { case _: IndexLifecycle.IndexDroppedException => noIndex(ex, name) }

  private def noIndex(ex: HttpExchange, name: String): Unit =
    respondJson(ex, 404, err(s"no such index: $name"))

  /** Graph-index write-back (append, repair) into a FRESH version dir,
    * then an atomic registry swap — the whole read-mutate-swap runs
    * inside the registry's per-key compute
    * ([[GraphIndex.mutateExisting]]), so concurrent
    * mutations serialize (each starts from the latest version, no lost
    * update) and the superseded version's files are condemned,
    * reclaimed only when their last in-flight reader releases.
    * `plan` parses the body into the write-back from (current handle,
    * new version dir); responds with the NEW version's handle.
    */
  private def graphWriteBack(ex: HttpExchange, h: SessionHandle, name: String)(
      plan: String => (GraphIndex.Handle, String) => GraphIndex.Handle)
      : Unit = {
    val regKey = s"${h.id}/$name"
    if (GraphIndex.get(regKey).isEmpty) noIndex(ex, name)
    else {
      val writeBack = plan(readBody(ex))
      GraphIndex.mutateExisting(regKey) { hd =>
        // versions are siblings of the current dir: still inside the
        // session spool, uniquely numbered per process
        writeBack(hd, s"${hd.dir}-v${wbVersions.incrementAndGet()}")
      } match {
        case Some(next) => respondJson(ex, 200, graphIndexJson(name, next))
        case None => noIndex(ex, name)
      }
    }
  }

  private val wbVersions = new java.util.concurrent.atomic.AtomicLong(0L)

  /** JSON-escape a string (ids/names come from request bodies). */
  private def jstr(s: String): String =
    com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString

  private def err(msg: String): String =
    s"""{"error":${com.fasterxml.jackson.databind.node.TextNode.valueOf(msg).toString}}"""

  /** Read at most [[uploadLimitBytes]] (20 MB default, reference
    * settings.rs:213, routes.rs:45-50), enforced BEFORE buffering: a
    * declared length over the cap fails at once, then a bounded read
    * so an undeclared big body can't balloon the heap.
    */
  private def readBounded(in: java.io.InputStream, declared: Option[Long],
      what: String): Array[Byte] = {
    val limit = uploadLimitBytes
    declared.filter(_ > limit).foreach { n =>
      throw new IllegalArgumentException(s"$what is $n bytes, exceeds limit ($limit)") }
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size() + n > limit)
        throw new IllegalArgumentException(s"$what exceeds limit ($limit bytes)")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  private def readBytes(ex: HttpExchange): Array[Byte] =
    readBounded(ex.getRequestBody,
      Option(ex.getRequestHeaders.getFirst("Content-Length")).map(_.toLong), "request body")

  private def readBody(ex: HttpExchange): String =
    new String(readBytes(ex), StandardCharsets.UTF_8)

  private def contentType(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq
      .flatMap { kv => kv.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(k -> "")
        case _ => None
      }}.toMap).getOrElse(Map.empty)

  private def safely(ex: HttpExchange)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f
    catch {
      case e: IllegalArgumentException => respondJson(ex, 400, err(e.getMessage))
      case NonFatal(e) =>
        respondJson(ex, 500, err(Option(e.getMessage).getOrElse(e.getClass.getName)))
    } finally {
      // record BEFORE close: once the exchange closes, the client's
      // next request (e.g. a /metrics scrape checking this counter)
      // can race ahead of the increment on another pool thread
      metrics.record(ex.getHttpContext.getPath, System.nanoTime() - t0)
      ex.close()
    }
  }

  private def respondJson(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, "application/json", body)

  private def respond(ex: HttpExchange, code: Int, contentType: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }
}

/** Standalone server entry point. */
object GraftServer {
  /** Per-session ANN index cap: each registry entry pins a persisted
    * codes table in the spool, so an unbounded count is an unbounded
    * disk footprint. 32 named indexes is far past any serving need.
    */
  val MaxIndexesPerSession = 32

  /** Numbers handler threads (`graft-http-N`) across servers. */
  private val threadSeq = new java.util.concurrent.atomic.AtomicInteger(0)
}

object GraftServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(4000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.EngineConf.local(cpus)
      .appName("graft-server")
      .getOrCreate()
    graft.sqlcompat.CompatFunctions.registerAll(spark)
    val server = new GraftServer(spark, port)
    server.start()
    println(s"graft server listening on ${server.boundPort}")
    Thread.currentThread().join()
  }
}
