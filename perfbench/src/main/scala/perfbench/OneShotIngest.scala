package perfbench

import graft.engine.{DataSourceDef, SessionHandle}
import graft.ingest.{IngestOptions, Readers}
import graft.ops.MergeProcessor
import graft.serve.{Api, Multipart, Processors}

import java.nio.charset.StandardCharsets.UTF_8

/** Writes beside reads, with ephemeral sessions. Half the requests are a
  * one-shot `POST /dataframe/query`: two inline JSON documents (10,000
  * events and 1,000 users), a column merge on the user key, and
  * `SELECT *` of the merged rows as JSON. The other half create a
  * session, upload a 10,000-row CSV as multipart, read the whole table
  * back as Arrow or CSV, and delete the session.
  */
final class OneShotIngest(ctx: Ctx) extends Workload(ctx) {
  val name = "oneshot_ingest"

  val Events = 10000
  val Users = 1000
  val UploadRows = 10000
  /** Distinct payloads of each kind; the stream draws from them. */
  val Payloads = 6
  val StreamSize = 1024
  override def warmup: Int = 1

  private var reqs: IndexedSeq[Req] = IndexedSeq.empty
  private var bodyBytes = (0, 0)
  def stream: IndexedSeq[Req] = reqs

  private val kinds = Seq("view", "click", "cart", "buy", "share")
  private val tiers = Seq("gold", "silver", "bronze")
  private val regions = Seq("north", "south", "east", "west")

  /** A dyadic value with a non-zero fraction, so it reads back as the
    * same double from JSON and CSV, and CSV inference never types the
    * column as an integer.
    */
  private def money(rng: java.util.Random): Double = rng.nextInt(5000) + 0.25 * (1 + rng.nextInt(3))

  private def jsonDoc(rows: Seq[Seq[(String, Any)]]): String = rows.map(_.map {
    case (k, v: String) => s""""$k":${jstr(v)}"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")).mkString("[", ",", "]")

  private def canon(rows: Seq[Seq[(String, Any)]], kinds: Map[String, Char]): Canon.Answer =
    Canon.answer(rows.map(r => Canon.row(r.map { case (k, v) => k -> Canon.value(v) })), kinds)

  private def mergePayload(rng: java.util.Random, p: Int): (Array[Byte], Canon.Answer) = {
    val users = (0 until Users).map(u => Seq[(String, Any)]("uid" -> java.lang.Long.valueOf(u.toLong),
      "name" -> s"user-$u-${rng.nextInt(100000)}", "tier" -> tiers(rng.nextInt(tiers.size)),
      "score" -> java.lang.Double.valueOf(money(rng))))
    val events = (0 until Events).map(i => Seq[(String, Any)](
      "event_id" -> java.lang.Long.valueOf(p * 1000000L + i),
      "user_id" -> java.lang.Long.valueOf(rng.nextInt(Users).toLong),
      "kind" -> kinds(rng.nextInt(kinds.size)),
      "amount" -> java.lang.Double.valueOf(money(rng))))
    val byUid = users.map(u => u.head._2 -> u.tail).toMap
    val merged = events.map(e => e ++ byUid(e(1)._2))
    val body =
      s"""{"dataSources":[{"format":"json","name":"events","data":${jstr(jsonDoc(events))}},""" +
        s"""{"format":"json","name":"users","data":${jstr(jsonDoc(users))}}],""" +
        """"processor":{"direction":"column","baseTable":"events","targets":[""" +
        """{"table":"users","baseKeys":["user_id"],"targetKeys":["uid"]}]},""" +
        """"query":{"sql":"SELECT * FROM events"},"response":{"format":"json"}}"""
    (body.getBytes(UTF_8), canon(merged, Map("event_id" -> 'i', "user_id" -> 'i', "kind" -> 's',
      "amount" -> 'd', "name" -> 's', "tier" -> 's', "score" -> 'd')))
  }

  private val boundary = "perfbench-boundary-7f3a"

  private def uploadPayload(rng: java.util.Random, p: Int): (Array[Byte], Canon.Answer) = {
    val rows = (0 until UploadRows).map(i => Seq[(String, Any)](
      "id" -> java.lang.Long.valueOf(p * 100000L + i),
      "sku" -> s"sku-${rng.nextInt(50000)}",
      "qty" -> java.lang.Long.valueOf(1L + rng.nextInt(99)),
      "price" -> java.lang.Double.valueOf(money(rng)),
      "region" -> regions(rng.nextInt(regions.size))))
    val csv = new StringBuilder("id,sku,qty,price,region\n")
    rows.foreach(r => csv ++= r.map(_._2).mkString(",") += '\n')
    val body = s"--$boundary\r\nContent-Disposition: form-data; name=\"uploads\"; " +
      s"filename=\"uploads.csv\"\r\nContent-Type: text/csv\r\n\r\n$csv\r\n--$boundary--\r\n"
    (body.getBytes(UTF_8), canon(rows, Map("id" -> 'i', "sku" -> 's', "qty" -> 'i',
      "price" -> 'd', "region" -> 's')))
  }

  def prepare(): Unit = {
    val rng = ctx.rng(2)
    val merges = (0 until Payloads).map(mergePayload(rng, _))
    val uploads = (0 until Payloads).map(uploadPayload(rng, _))
    bodyBytes = (merges.head._1.length, uploads.head._1.length)
    reqs = (0 until StreamSize).map { pos =>
      if (rng.nextBoolean()) {
        val (body, want) = merges(rng.nextInt(Payloads))
        new MergeReq(pos, body, want)
      } else {
        val (body, want) = uploads(rng.nextInt(Payloads))
        new UploadReq(pos, s"pb-up-$pos", body, want, if (rng.nextBoolean()) "arrow" else "csv")
      }
    }
  }

  def setupHttp(http: Http): Unit = ()
  def teardownHttp(http: Http): Unit = ()
  def setupDirect(d: Direct): Unit = ()
  def teardownDirect(d: Direct): Unit = ()

  override def describe: String = {
    s"$Payloads payloads per kind; merge body ${bodyBytes._1} bytes ($Events+$Users rows), " +
      s"upload body ${bodyBytes._2} bytes ($UploadRows rows)"
  }

  private def check(r: Raw, want: Canon.Answer): Outcome = {
    if (!r.ok) return Outcome(ok = false, 0.0, 0, s"HTTP ${r.status}: ${r.text.take(200)}")
    val got = Canon.decode(r.contentType, r.body, want.kinds).sorted
    if (got.size == want.size && Canon.digest(got) == want.digest) Outcome(ok = true, 1.0, got.size)
    else Outcome(ok = false, Canon.overlapAt10(want, got), got.size, s"rows ${got.size}/${want.size}, hash mismatch")
  }

  /** Bytes under the session's spool directory. */
  private def spooled(h: SessionHandle): Long = {
    val s = java.nio.file.Files.walk(h.spoolDir)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  final class MergeReq(val pos: Int, val body: Array[Byte], val want: Canon.Answer) extends Req {
    val kind = "merge_json"

    def send(http: Http): Raw = http.call("POST", "/dataframe/query", body)

    def direct(d: Direct): Raw = {
      d.t.count("serve.request_bytes", body.length)
      val req = d.t.span("serve.parse") { Api.parseDataFrameQuery(new String(body, UTF_8)) }
      val h = d.t.span("engine.session_create") { d.sessions.create(None, 60L) }
      try {
        req.dataSources.foreach { ds =>
          val df = d.t.span("ingest.read") {
            Readers.jsonDocument(h.spark, ds.data.get, IngestOptions(spoolDir = Some(h.spoolDir)))
          }
          d.t.span("engine.register") {
            d.sessions.registerTable(h, df, DataSourceDef(ds.name, ds.format, None, None))
          }
        }
        d.t.count("ingest.rows", Events + Users)
        d.t.count("ingest.spool_bytes", spooled(h))
        req.processors.foreach(m => d.t.span("ops.merge") { merge(h, m) })
        val q = req.query.get
        val df = d.t.span("engine.sql") {
          Processors.applyAll(d.sessions.sql(h, q.sql), q.postProcessors)
        }
        d.encode(df, req.response.format.getOrElse("json"))
      } finally d.t.span("engine.session_remove") { d.sessions.remove(h.id) }
    }

    /** The server's merge step: join, cache, count, replace the base view. */
    private def merge(h: SessionHandle, m: Api.MergeProcessorReq): Unit = {
      val merged = MergeProcessor.mergeColumns(h.spark.table(m.baseTable), m.targets.map(t =>
        MergeProcessor.ColumnTarget(t.table, h.spark.table(t.table), t.baseKeys, t.targetKeys)))
      Option(h.cachedFrames.get(m.baseTable)).foreach(_.unpersist())
      val cached = merged.cache()
      cached.count()
      cached.createOrReplaceTempView(m.baseTable)
      h.cachedFrames.put(m.baseTable, cached)
    }

    def check(r: Raw): Outcome = OneShotIngest.this.check(r, want)
  }

  final class UploadReq(val pos: Int, val session: String, val body: Array[Byte], val want: Canon.Answer,
      val format: String) extends Req {
    val kind = s"upload_$format"
    private val contentType = s"multipart/form-data; boundary=$boundary"
    private val query = bytes(s"""{"sql":"SELECT * FROM uploads","response":{"format":"$format"}}""")

    def send(http: Http): Raw = {
      val created = http.call("POST", s"/session?id=$session")
      if (!created.ok) return created
      val res = try {
        val up = http.call("POST", s"/session/$session/datasource/upload", body, contentType)
        if (!up.ok) up else http.call("POST", s"/session/$session/query", query)
      } catch {
        case e: Throwable => http.call("DELETE", s"/session/$session"); throw e
      }
      val del = http.call("DELETE", s"/session/$session")
      if (del.ok) res else del
    }

    def direct(d: Direct): Raw = {
      val h = d.t.span("engine.session_create") { d.sessions.create(Some(session), 3600L) }
      try {
        d.t.count("serve.request_bytes", body.length)
        val parts = d.t.span("serve.parse") {
          Multipart.parse(body, Multipart.boundaryOf(contentType).get).filter(_.body.nonEmpty)
        }
        parts.foreach { part =>
          val df = d.t.span("ingest.read") {
            Readers.csvBytes(h.spark, part.body, IngestOptions(spoolDir = Some(h.spoolDir)))
          }
          d.t.span("engine.register") {
            d.sessions.registerTable(h, df, DataSourceDef(part.name.get, "csv", None, None))
          }
        }
        d.t.count("ingest.rows", UploadRows)
        d.t.count("ingest.spool_bytes", spooled(h))
        val n = d.parseJson(query)
        val df = d.t.span("engine.sql") { d.sessions.sql(h, n.get("sql").asText()) }
        d.encode(df, format)
      } finally d.t.span("engine.session_remove") { d.sessions.remove(session) }
    }

    def check(r: Raw): Outcome = OneShotIngest.this.check(r, want)
  }
}
