package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{DataSourceDef, SessionHandle, SessionManager}
import graft.ingest.{IngestOptions, Readers, SchemaDsl}
import graft.ops.MergeProcessor

import java.net.InetSocketAddress
import scala.jdk.CollectionConverters._
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
  *   GET    /session/{id}/datasource  list registered sources
  *   GET    /session/{id}/datasource/{name}  schema detail
  *   DELETE /session/{id}/datasource/{name}  remove
  *   GET|POST /session/{id}/datasource/{name}/refresh  re-ingest (reference: GET)
  *   POST   /session/{id}/processor   standalone merge processors → 204
  *   POST   /session/{id}/index      build+register an ANN index {name, table, seeded?, ...}
  *   GET    /session/{id}/index      list session indexes
  *   GET    /session/{id}/index/{name}         meta detail
  *   DELETE /session/{id}/index/{name}         drop the handle
  *   POST   /session/{id}/index/{name}/append  {table} — encode with existing quantizers
  *   POST   /session/{id}/index/{name}/search  {queryId|vector, k, nprobe, rerank}
  *   GET    /healthz                  204
  *   GET    /sysinfo                  version info
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
    val body = metrics.render(sessions.list.size, resultCache)
      .getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.getResponseBody.close()
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
      case ("POST", Array()) =>
        val q = query(ex)
        val h = sessions.create(q.get("id"), q.getOrElse("keepAlive", "3600").toLong)
        metrics.sessionsCreated.increment()
        respondJson(ex, 200, sessionJson(h))
      case ("GET", Array()) =>
        respondJson(ex, 200,
          sessions.list.sortBy(_.createdAt).map(sessionJson).mkString("[", ",", "]"))
      // the reference's session-create route is a GET with query
      // params (server/routes.rs:30, handler session.rs:50-66) — a
      // doc-following client must not fall through to the by-id
      // lookup below and 404
      case ("GET", Array("create")) =>
        val q = query(ex)
        val h = sessions.create(q.get("id"), q.getOrElse("keepAlive", "3600").toLong)
        metrics.sessionsCreated.increment()
        respondJson(ex, 200, sessionJson(h))
      case ("GET", Array(id)) =>
        withSession(ex, id)(h => respondJson(ex, 200, sessionJson(h)))
      case ("DELETE", Array(id)) =>
        if (sessions.remove(id)) respondJson(ex, 200, """{"status":"deleted"}""")
        else respondJson(ex, 404, err(s"no such session: $id"))
      case ("POST", Array(id, "query")) =>
        withSession(ex, id) { h =>
          val body = readBody(ex)
          val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          // raw application/sql or JSON {sql}/{query,response}; the
          // query object (or the top level, next to `sql`) may carry
          // a postProcessors chain
          // (reference: response/handler/session.rs:90-124,151-171)
          val (sql, fmt, post) =
            if (contentType.startsWith("application/sql"))
              (body, None, Seq.empty[Api.PostProcessorReq])
            else {
              val n = Api.mapper.readTree(body)
              val qNode = Option(n.get("query"))
              val s = Option(n.get("sql")).map(_.asText())
                .orElse(qNode.flatMap(q =>
                  if (q.isTextual) Some(q.asText())
                  else Option(q.get("sql")).map(_.asText())))
                .getOrElse(throw new IllegalArgumentException("sql required"))
              // query-nested first, then top-level — the same chain
              // order as the one-shot door (Api.parseDataFrameQuery)
              val pp = qNode.filterNot(_.isTextual)
                .map(Api.parsePostProcessors).getOrElse(Nil) ++
                Api.parsePostProcessors(n)
              (s, Option(n.get("response")).flatMap(r => Option(r.get("format")).map(_.asText())), pp)
            }
          val df = Processors.applyAll(sessions.sql(h, sql), post)
          val format = negotiate(ex, fmt)
          respondStream(ex, format)(resultCache.serve(df, format, _))
        }
      case ("POST", Array(id, "datasource", "upload")) =>
        withSession(ex, id) { h =>
          val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          val boundary = Multipart.boundaryOf(ct).getOrElse(
            throw new IllegalArgumentException("multipart/form-data with boundary required"))
          // 20 MB default cap (reference settings.rs:213, routes.rs:45-50)
          // — enforced BEFORE buffering: declared length first, then a
          // bounded read so an undeclared big body can't balloon the heap
          Option(ex.getRequestHeaders.getFirst("Content-Length"))
            .map(_.toLong).filter(_ > uploadLimitBytes).foreach { n =>
              throw new IllegalArgumentException(
                s"upload of $n bytes exceeds limit ($uploadLimitBytes)") }
          val body = readBounded(ex.getRequestBody, uploadLimitBytes)
          val parts = Multipart.parse(body, boundary).filter(_.body.nonEmpty)
          if (parts.isEmpty) throw new IllegalArgumentException("no file parts")
          parts.foreach { part =>
            val fmt = Readers.sniffFormat(part.contentType, part.filename)
              .getOrElse(throw new IllegalArgumentException(
                s"cannot sniff format of ${part.filename.orElse(part.name).getOrElse("part")}"))
            val name = part.name.orElse(part.filename.map(_.split('.').head))
              .getOrElse(throw new IllegalArgumentException("part needs a name"))
            val sOpts = IngestOptions(spoolDir = Some(h.spoolDir))
            val df = fmt match {
              case "csv" => Readers.csvBytes(h.spark, part.body, sOpts)
              case "json" => Readers.jsonDocument(h.spark,
                new String(part.body, StandardCharsets.UTF_8), sOpts)
              case "ndJson" => Readers.ndJsonBytes(h.spark, part.body, sOpts)
              case "parquet" => Readers.parquetBytes(h.spark, part.body, Some(h.spoolDir))
              case "arrow" => Readers.arrowBytes(h.spark, part.body)
              case other => throw new IllegalArgumentException(s"unsupported upload format: $other")
            }
            sessions.registerTable(h, df,
              graft.engine.DataSourceDef(name, fmt, None, None))
            // an upload replacing a location-backed table must not let
            // a later refresh resurrect the OLD source's data
            h.rawDataSourceReqs.remove(name)
          }
          respondJson(ex, 200, s"""{"status":"ok","tables":${parts.size}}""")
        }
      case ("POST", Array(id, "datasource")) =>
        withSession(ex, id) { h =>
          parseDataSourceDefs(readBody(ex)).foreach(ingest(h, _))
          respondJson(ex, 200, """{"status":"ok"}""")
        }
      // write registered tables back to files (reference
      // `POST /:session_id/datasource/save`, routes.rs:35 →
      // save_to_file/save_to_object_store): each entry names a
      // session table and a destination location + format
      case ("POST", Array(id, "datasource", "save")) =>
        withSession(ex, id) { h =>
          parseDataSourceDefs(readBody(ex)).foreach { ds =>
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
              val req = Option(h.rawDataSourceReqs.get(name)) match {
                case Some(r: Api.DataSourceReq) => r
                case _ => Api.DataSourceReq(d.format, d.name, d.location, None,
                  d.schemaJson, Api.Options())
              }
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
          val n = Api.mapper.readTree(readBody(ex))
          def txt(f: String) = Option(n.get(f)).map(_.asText())
          def int(f: String, d: Int) = Option(n.get(f)).map(_.asInt()).getOrElse(d)
          val name = safeIdent(txt("name").getOrElse(
            throw new IllegalArgumentException("index.name required")), "index.name")
          val table = safeIdent(txt("table").getOrElse(
            throw new IllegalArgumentException("index.table required")), "index.table")
          val idxType = txt("type").getOrElse("ivf")
          require(idxType == "ivf" || idxType == "graph",
            s"index.type must be ivf or graph, got $idxType")
          val vecCol = colIdent(txt("vecCol").getOrElse("embedding"), "vecCol")
          val idCol = colIdent(txt("idCol").getOrElse("id"), "idCol")
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
          val fp = graft.pipeline.AnnIndex.corpusFingerprint(corpus)
          // the cap is enforced EXACTLY inside each registry (lock +
          // reservation set), so N concurrent first-POSTs of distinct
          // new names can't all slip past a stale count; re-POSTs of
          // an existing name (rebuilds) always pass. reuse-or-rebuild
          // stays atomic per registry key (compute): concurrent POSTs
          // with different params serialize, and each 200's handle
          // matches its own request body
          try {
            if (idxType == "graph") {
              if (graft.pipeline.AnnIndex.get(regKey).nonEmpty)
                respondJson(ex, 409, err(
                  s"index name $name is held by an ivf index; DELETE it first"))
              else {
                val (graphK, buildRounds) =
                  (int("graphK", 8), int("buildRounds", 2))
                val dir = dirFor(
                  s"graph-gk$graphK-r$buildRounds-$vecCol-$idCol-$fp")
                val handle = graft.pipeline.GraphIndex
                  .openOrRebuildCachedBounded(regKey, dir, h.id + "/",
                    GraftServer.MaxIndexesPerSession) {
                    graft.pipeline.GraphIndex.buildIfAbsent(
                      corpus, vecCol, idCol, dir, graphK, buildRounds)
                  }
                respondJson(ex, 200, graphIndexJson(name, handle))
              }
            } else {
              if (graft.pipeline.GraphIndex.get(regKey).nonEmpty)
                respondJson(ex, 409, err(
                  s"index name $name is held by a graph index; DELETE it first"))
              else {
                // seeded = deterministic data-derived quantizers (the
                // s20 oracle-twin build flavor), trained Lloyd otherwise
                val seeded = Option(n.get("seeded")).exists(_.asBoolean(false))
                val (numCells, m, ksub) = (int("numCells", 16), int("m", 8),
                  int("ksub", 16))
                val iters = int("iters", 3)
                val flavor = if (seeded) "seeded" else s"trained-i$iters"
                val dir = dirFor(s"$flavor-c$numCells-m$m-k$ksub-$vecCol-$idCol-$fp")
                val handle = graft.pipeline.AnnIndex.openOrRebuildCachedBounded(
                  regKey, dir, h.id + "/", GraftServer.MaxIndexesPerSession) {
                  if (seeded) graft.pipeline.AnnIndex.buildSeededIfAbsent(
                    corpus, vecCol, idCol, dir, numCells, m, ksub)
                  else graft.pipeline.AnnIndex.buildIfAbsent(
                    corpus, vecCol, idCol, dir, numCells, m, ksub, iters)
                }
                respondJson(ex, 200, indexJson(name, handle))
              }
            }
          } catch {
            case _: graft.pipeline.IndexLifecycle.IndexCapExceededException =>
              respondJson(ex, 429, err(
                s"session $id has ${GraftServer.MaxIndexesPerSession} indexes (limit); DELETE one first"))
          }
        }
      case ("GET", Array(id, "index")) =>
        withSession(ex, id) { h =>
          respondJson(ex, 200,
            (graft.pipeline.AnnIndex.list() ++ graft.pipeline.GraphIndex.list())
              .filter(_.startsWith(h.id + "/")).sorted
              .map(k => jstr(k.stripPrefix(h.id + "/")))
              .mkString("[", ",", "]"))
        }
      case ("GET", Array(id, "index", name)) =>
        withSession(ex, id) { h =>
          graft.pipeline.AnnIndex.get(s"${h.id}/$name") match {
            case Some(hd) => respondJson(ex, 200, indexJson(name, hd))
            case None =>
              graft.pipeline.GraphIndex.get(s"${h.id}/$name") match {
                case Some(gd) => respondJson(ex, 200, graphIndexJson(name, gd))
                case None => respondJson(ex, 404, err(s"no such index: $name"))
              }
          }
        }
      case ("DELETE", Array(id, "index", name)) =>
        withSession(ex, id) { h =>
          // dropAndDelete, not drop: the serving DELETE removes the
          // persisted codes/edge tables too, so a session cycling many
          // indexes doesn't accumulate dead directories until teardown
          if (graft.pipeline.AnnIndex.dropAndDelete(s"${h.id}/$name") ||
            graft.pipeline.GraphIndex.dropAndDelete(s"${h.id}/$name"))
            respondJson(ex, 200, """{"status":"deleted"}""")
          else respondJson(ex, 404, err(s"no such index: $name"))
        }
      case ("POST", Array(id, "index", name, "append")) =>
        withSession(ex, id) { h =>
          graft.pipeline.AnnIndex.get(s"${h.id}/$name") match {
            case None => graphAppend(ex, h, name)
            case Some(hd) =>
              val n = Api.mapper.readTree(readBody(ex))
              val table = Option(n.get("table")).map(_.asText()).getOrElse(
                throw new IllegalArgumentException("append.table required"))
              // reader-guarded: a concurrent DROP defers file deletion
              // until this append's write finishes; a lost race (dir
              // already condemned) answers like a missing index
              try graft.pipeline.AnnIndex.withReader(hd) {
                graft.pipeline.AnnIndex.append(hd, h.spark.table(table))
                respondJson(ex, 200, """{"status":"appended"}""")
              } catch {
                case _: graft.pipeline.AnnIndex.IndexDroppedException =>
                  respondJson(ex, 404, err(s"no such index: $name"))
              }
          }
        }
      case ("POST", Array(id, "index", name, "repair")) =>
        withSession(ex, id) { h => graphRepair(ex, h, name) }
      case ("POST", Array(id, "index", name, "search")) =>
        withSession(ex, id) { h =>
          graft.pipeline.AnnIndex.get(s"${h.id}/$name") match {
            case None => graphSearch(ex, h, name)
            case Some(hd) =>
              val n = Api.mapper.readTree(readBody(ex))
              val k = Option(n.get("k")).map(_.asInt()).getOrElse(10)
              val nprobe = Option(n.get("nprobe")).map(_.asInt())
                .getOrElse(hd.numCells)
              val rerank = Option(n.get("rerank")).map(_.asInt()).getOrElse(0)
              val table = Option(n.get("table")).map(_.asText())
              val fmt = Option(n.get("response"))
                .flatMap(r => Option(r.get("format")).map(_.asText()))
              // the whole plan-and-materialize runs under the dir's
              // reader count: a concurrent DROP/rebuild defers file
              // deletion until this response is written, so the search
              // can't die on FileNotFoundException mid-job; a lost
              // race answers like a missing index
              try graft.pipeline.AnnIndex.withReader(hd) {
                val df = Option(n.get("queryId")).map(_.asLong()) match {
                  case Some(qid) =>
                    val corpus = h.spark.table(table.getOrElse(
                      throw new IllegalArgumentException(
                        "table required with queryId")))
                    graft.pipeline.AnnIndex.searchTopK(corpus, hd, qid, k,
                      nprobe, rerank)
                  case None =>
                    val vn = Option(n.get("vector")).getOrElse(
                      throw new IllegalArgumentException(
                        "queryId or vector required"))
                    val q = (0 until vn.size()).map(vn.get(_).asDouble()).toArray
                    graft.pipeline.AnnIndex.searchTopKVec(h.spark, hd, q, k,
                      nprobe, corpus = table.map(h.spark.table), rerank = rerank)
                }
                respondData(ex, df, fmt)
              } catch {
                case _: graft.pipeline.AnnIndex.IndexDroppedException =>
                  respondJson(ex, 404, err(s"no such index: $name"))
              }
          }
        }
      case _ => respondJson(ex, 404, err("not found"))
    }
  })

  // --------------------------------------------------------------

  /** Body → data-source requests: a bare array, a {dataSources: []}
    * wrapper, or a single object (shared by the add and save routes).
    */
  private def parseDataSourceDefs(body: String): Seq[Api.DataSourceReq] = {
    val n = Api.mapper.readTree(body)
    val defs =
      if (n.isArray) n.elements().asScala.toSeq
      else Option(n.get("dataSources")).filter(_.isArray)
        .map(_.elements().asScala.toSeq).getOrElse(Seq(n))
    defs.map(Api.parseDataSource)
  }

  /** Scheme×format ingest dispatch (`session_manager.rs:336-421`). */
  private def ingest(h: SessionHandle, ds: Api.DataSourceReq): Unit = {
    val schema = ds.schemaJson.map(SchemaDsl.fromJson)
    val opts = IngestOptions(
      hasHeader = ds.options.hasHeader,
      inferSchemaRows = ds.options.inferSchemaRows,
      delimiter = ds.options.delimiter,
      jsonPath = ds.options.jsonPath,
      requireNormalize = ds.options.requireNormalize,
      schema = schema,
      spoolDir = Some(h.spoolDir))
    if (!ds.options.overwrite && h.spark.catalog.tableExists(ds.name))
      throw new IllegalArgumentException(s"table exists: ${ds.name} (overwrite=false)")
    // connector dispatch: a location with a registered custom scheme
    // (reference A23: data_source/connector_plugin.rs:19-106) goes to
    // the embedder's connector instead of a built-in reader
    val connectorDf: Option[DataFrame] = ds.location.flatMap(l =>
      Connectors.forLocation(l).map { case (_, c) =>
        c(h.spark, java.net.URI.create(l), ds.pluginOptions, ds.schemaJson)
      })
    // HTTP(S) locations: fetch to the session spool, then the bytes
    // path (reference A1/A3: data_source/transport/http.rs:24-40)
    val fetched: Option[Array[Byte]] = ds.location
      .filter(l => l.startsWith("http://") || l.startsWith("https://"))
      .map { url =>
        val client = java.net.http.HttpClient.newHttpClient()
        // stream through the same bounded reader as multipart uploads so a
        // large remote body can't exhaust the driver heap (and fail fast on
        // a Content-Length that already exceeds the cap)
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofInputStream())
        if (resp.statusCode() >= 400)
          throw new IllegalArgumentException(s"fetch of $url failed: HTTP ${resp.statusCode()}")
        resp.headers().firstValueAsLong("Content-Length").ifPresent { n =>
          if (n > uploadLimitBytes)
            throw new IllegalArgumentException(
              s"fetch of $url is $n bytes, exceeds limit ($uploadLimitBytes)")
        }
        val in = resp.body()
        try readBounded(in, uploadLimitBytes) finally in.close()
      }
    val df: DataFrame = connectorDf.getOrElse(
      (ds.format.toLowerCase, fetched, ds.location, ds.data) match {
      case ("csv", Some(bytes), _, _) => Readers.csvBytes(h.spark, bytes, opts)
      case ("ndjson", Some(bytes), _, _) => Readers.ndJsonBytes(h.spark, bytes, opts)
      case ("json", Some(bytes), _, _) =>
        Readers.jsonDocument(h.spark, new String(bytes, StandardCharsets.UTF_8), opts)
      case ("parquet", Some(bytes), _, _) =>
        Readers.parquetBytes(h.spark, bytes, Some(h.spoolDir))
      case ("arrow", Some(bytes), _, _) => Readers.arrowBytes(h.spark, bytes)
      case (fmtName, Some(_), _, _) =>
        throw new IllegalArgumentException(s"http fetch unsupported for format: $fmtName")
      case (fmtName, None, loc, data) => (fmtName, loc, data) match {
      case ("csv", Some(loc), _) => Readers.csv(h.spark, loc, opts)
      case ("ndjson", Some(loc), _) => Readers.ndJson(h.spark, loc, opts)
      case ("json", Some(loc), _) => Readers.jsonDocumentFile(h.spark, loc, opts)
      case ("json", None, Some(text)) => Readers.jsonDocument(h.spark, text, opts)
      case ("parquet", Some(loc), _) => Readers.parquet(h.spark, loc)
      case ("avro", Some(loc), _) => Readers.avro(h.spark, loc)
      case ("arrow", Some(loc), _) => Readers.arrow(h.spark, loc)
      case ("delta" | "deltalake", Some(loc), _) =>
        graft.ingest.DeltaReader.read(h.spark, loc, ds.options.version)
      // Flight scan is feature-gated exactly like the reference's
      // `flight` cargo feature: resolved reflectively so the default
      // (jar-less) build keeps this route, with a clear error
      case ("flight", Some(loc), _) =>
        try {
          val cls = Class.forName("graft.flight.FlightScan$")
          cls.getMethod("read",
              classOf[org.apache.spark.sql.SparkSession], classOf[String])
            .invoke(cls.getField("MODULE$").get(null), h.spark, loc)
            .asInstanceOf[org.apache.spark.sql.DataFrame]
        } catch {
          case _: ClassNotFoundException => throw new IllegalArgumentException(
            "flight datasource support is not built in this binary " +
              "(compile with -Dgraft.flight=true; see FLIGHT_BLOCKER.md)")
          // Method.invoke wraps the scan's own failures — rethrow the
          // cause so a bad URI stays a 400 with its real message
          case e: java.lang.reflect.InvocationTargetException =>
            throw Option(e.getCause).getOrElse(e)
        }
        case (f, None, None) =>
          throw new IllegalArgumentException(s"dataSource ${ds.name}: location or data required for $f")
        case (f, _, _) => throw new IllegalArgumentException(s"unsupported format: $f")
      }
    })
    sessions.registerTable(h, df, DataSourceDef(ds.name, ds.format, ds.location, ds.schemaJson))
    h.rawDataSourceReqs.put(ds.name, ds)
    metrics.dataSourcesRegistered.increment()
  }

  /** Merge-processor step (`session.rs:550-656`). */
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
    // re-register, replacing the base table (reference:
    // session.rs:646-652): the merged table is a plan over its
    // inputs, not a materialization. A previous materialized state of
    // the same name (CTAS / INSERT) is released from the shared
    // CacheManager.
    Option(h.cachedFrames.remove(m.baseTable)).foreach(df =>
      try df.unpersist() catch { case _: Throwable => () })
    merged.createOrReplaceTempView(m.baseTable)
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

  /** Request-body strings that become filesystem path segments (index
    * name, table name): a conservative identifier shape — no dots, no
    * separators — so "../" or an absolute path can never reach
    * `Path.resolve` (which would let a request write, overwrite, or
    * orphan directories outside its session spool).
    */
  private def safeIdent(s: String, what: String): String = {
    if (!s.matches("[A-Za-z0-9_][A-Za-z0-9_-]{0,63}")) throw new IllegalArgumentException(
      s"$what must match [A-Za-z0-9_][A-Za-z0-9_-]{0,63}: got ${jstr(s)}")
    s
  }

  /** Column identifiers embedded in the index-dir leaf alongside '-'
    * separated params: word chars only, so the leaf stays unambiguous.
    */
  private def colIdent(s: String, what: String): String = {
    if (!s.matches("[A-Za-z0-9_]{1,64}")) throw new IllegalArgumentException(
      s"$what must match [A-Za-z0-9_]{1,64}: got ${jstr(s)}")
    s
  }

  private def indexJson(name: String, h: graft.pipeline.AnnIndex.Handle): String =
    s"""{"name":${jstr(name)},"m":${h.m},"ksub":${h.ksub},"dim":${h.dim},""" +
      s""""numCells":${h.numCells},"idCol":${jstr(h.idCol)},""" +
      s""""vecCol":${jstr(h.vecCol)}}"""

  private def graphIndexJson(name: String,
      h: graft.pipeline.GraphIndex.Handle): String =
    s"""{"name":${jstr(name)},"type":"graph","graphK":${h.graphK},""" +
      s""""buildRounds":${h.buildRounds},"n":${h.n},"mn":${h.mn},""" +
      s""""idCol":${jstr(h.idCol)},"vecCol":${jstr(h.vecCol)}}"""

  /** Graph-index serve read: the LEAN top-k walk
    * ([[graft.pipeline.GraphAnn.graphSearchTopK]] — no audit legs).
    * Body: `{table, queryIds: [..], k?, beamWidth?, hops?,
    * coarseEntryK?, response: {format}?}`. Queries address corpus
    * ids (the graph family's serving contract; an explicit-vector
    * query would first be appended). Runs under the dir's reader
    * count like the IVF search: a concurrent DROP defers deletion,
    * a lost race answers 404.
    */
  private def graphSearch(ex: com.sun.net.httpserver.HttpExchange,
      h: SessionHandle, name: String): Unit =
    graft.pipeline.GraphIndex.get(s"${h.id}/$name") match {
      case None => respondJson(ex, 404, err(s"no such index: $name"))
      case Some(hd) =>
        val n = Api.mapper.readTree(readBody(ex))
        val table = Option(n.get("table")).map(_.asText()).getOrElse(
          throw new IllegalArgumentException("search.table required"))
        val qn = Option(n.get("queryIds")).filter(_.isArray).getOrElse(
          throw new IllegalArgumentException(
            "graph search requires queryIds (an array of corpus ids)"))
        import scala.jdk.CollectionConverters._
        val qids = qn.elements().asScala.map(_.asLong()).toSeq
        val k = Option(n.get("k")).map(_.asInt()).getOrElse(10)
        val beamWidth = Option(n.get("beamWidth")).map(_.asInt())
          .getOrElse(2 * k)
        val hops = Option(n.get("hops")).map(_.asInt()).getOrElse(3)
        val coarse = Option(n.get("coarseEntryK")).map(_.asInt())
        val fmt = Option(n.get("response"))
          .flatMap(r => Option(r.get("format")).map(_.asText()))
        try graft.pipeline.GraphIndex.withReader(hd) {
          respondData(ex, graft.pipeline.GraphAnn.graphSearchTopK(
            h.spark.table(table), hd.vecCol, hd.idCol, hd, qids, k,
            beamWidth, hops, coarse), fmt)
        } catch {
          case _: graft.pipeline.IndexLifecycle.IndexDroppedException =>
            respondJson(ex, 404, err(s"no such index: $name"))
        }
    }

  /** Graph-index append: [[graft.pipeline.GraphAnn
    * .graphAppendWriteBack]] into a FRESH version dir, then an
    * atomic registry swap — the whole read-mutate-swap runs inside
    * the registry's per-key compute
    * ([[graft.pipeline.GraphIndex.mutateExisting]]), so concurrent
    * appends serialize (each starts from the latest version, no
    * lost update) and the superseded version's files are condemned,
    * reclaimed only when their last in-flight reader releases.
    * Body: `{table (the batch), corpusTable (the standing corpus),
    * beamWidth?, hops?}`. Responds with the NEW version's handle.
    *
    * Optimistic-concurrency contract (spec-pinned in
    * IndexLifecycleFuzzSpec): `corpusTable` must match the handle's
    * CURRENT corpus. When two appends race, the loser starts from
    * the winner's new version and its stale corpusTable fails the
    * staleness guard loudly — the client retries with the refreshed
    * corpus. A conflict is never resolved by silently dropping a
    * batch.
    */
  private def graphAppend(ex: com.sun.net.httpserver.HttpExchange,
      h: SessionHandle, name: String): Unit = {
    val regKey = s"${h.id}/$name"
    if (graft.pipeline.GraphIndex.get(regKey).isEmpty)
      respondJson(ex, 404, err(s"no such index: $name"))
    else {
      val n = Api.mapper.readTree(readBody(ex))
      val batchTable = Option(n.get("table")).map(_.asText()).getOrElse(
        throw new IllegalArgumentException("append.table required"))
      val corpusTable = Option(n.get("corpusTable")).map(_.asText())
        .getOrElse(throw new IllegalArgumentException(
          "graph append requires corpusTable (the standing corpus the " +
            "index was built over)"))
      graft.pipeline.GraphIndex.mutateExisting(regKey) { hd =>
        val beamWidth = Option(n.get("beamWidth")).map(_.asInt())
          .getOrElse(math.max(2 * hd.graphK, hd.graphK))
        val hops = Option(n.get("hops")).map(_.asInt()).getOrElse(3)
        // versions are siblings of the current dir: still inside the
        // session spool, uniquely numbered per process
        val destDir = s"${hd.dir}-v${wbVersions.incrementAndGet()}"
        graft.pipeline.GraphAnn.graphAppendWriteBack(
          h.spark.table(corpusTable), h.spark.table(batchTable),
          hd.vecCol, hd.idCol, hd, beamWidth, hops, destDir)
      } match {
        case Some(next) => respondJson(ex, 200, graphIndexJson(name, next))
        case None => respondJson(ex, 404, err(s"no such index: $name"))
      }
    }
  }

  /** Graph-index repair: [[graft.pipeline.GraphAnn
    * .graphRepairWriteBack]] into a fresh version dir + atomic swap
    * (same serialization as append) — the door's delete-vectors
    * move: after the swap the new version serves the
    * tombstone-compacted corpus directly and the old version's files
    * are condemned. Body: `{deletedTable (one id column named like
    * the index's idCol), corpusTable}`. 400 for an ivf index (its
    * compaction story is rebuild — POST the build route again).
    */
  private def graphRepair(ex: com.sun.net.httpserver.HttpExchange,
      h: SessionHandle, name: String): Unit = {
    val regKey = s"${h.id}/$name"
    if (graft.pipeline.AnnIndex.get(regKey).nonEmpty)
      respondJson(ex, 400, err(
        s"repair applies to graph indexes; $name is ivf (re-POST the build to compact)"))
    else if (graft.pipeline.GraphIndex.get(regKey).isEmpty)
      respondJson(ex, 404, err(s"no such index: $name"))
    else {
      val n = Api.mapper.readTree(readBody(ex))
      val deletedTable = Option(n.get("deletedTable")).map(_.asText())
        .getOrElse(throw new IllegalArgumentException(
          "repair.deletedTable required"))
      val corpusTable = Option(n.get("corpusTable")).map(_.asText())
        .getOrElse(throw new IllegalArgumentException(
          "graph repair requires corpusTable (the corpus the index " +
            "was built over, INCLUDING the rows being deleted)"))
      graft.pipeline.GraphIndex.mutateExisting(regKey) { hd =>
        val destDir = s"${hd.dir}-v${wbVersions.incrementAndGet()}"
        graft.pipeline.GraphAnn.graphRepairWriteBack(
          h.spark.table(corpusTable), hd.vecCol, hd.idCol, hd,
          h.spark.table(deletedTable), hd.idCol, destDir)
      } match {
        case Some(next) => respondJson(ex, 200, graphIndexJson(name, next))
        case None => respondJson(ex, 404, err(s"no such index: $name"))
      }
    }
  }

  private val wbVersions = new java.util.concurrent.atomic.AtomicLong(0L)

  /** JSON-escape a string (ids/names come from request bodies). */
  private def jstr(s: String): String =
    com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString

  private def err(msg: String): String =
    s"""{"error":${com.fasterxml.jackson.databind.node.TextNode.valueOf(msg).toString}}"""

  /** Read at most `limit` bytes; one byte over throws. */
  private def readBounded(in: java.io.InputStream, limit: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size() + n > limit)
        throw new IllegalArgumentException(s"upload exceeds limit ($limit bytes)")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

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

  private def respondJson(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
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
