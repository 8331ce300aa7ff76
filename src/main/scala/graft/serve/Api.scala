package graft.serve

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.TextNode

import scala.jdk.CollectionConverters._

/** Request-body model for the REST surface — field names and
  * defaults mirror the reference's `lib/src/request/body.rs`
  * (DataSource :128-137, options :15-31 with defaults :49-60, merge
  * processor :238-314, query :333-339, response :357-365).
  */
object Api {

  /** The one Jackson mapper of the serving layer (thread-safe once
    * configured, and never reconfigured).
    */
  private val mapper = new ObjectMapper()

  final case class DataSourceReq(
      format: String,          // csv | json | ndJson | parquet | avro
      name: String,
      location: Option[String],
      data: Option[String],    // inline payload (json document text)
      schemaJson: Option[String],
      options: Options,
      pluginOptions: Map[String, JsonNode] = Map.empty)

  final case class Options(
      hasHeader: Boolean = true,
      inferSchemaRows: Int = 100,
      delimiter: Char = ',',
      jsonPath: Option[String] = None,
      requireNormalize: Boolean = false,
      overwrite: Boolean = true,
      version: Option[Long] = None)  // Delta time travel

  final case class MergeTarget(table: String, baseKeys: Seq[String], targetKeys: Seq[String])

  final case class MergeProcessorReq(
      direction: String,       // column | row
      baseTable: String,
      targets: Seq[MergeTarget],       // column direction
      targetTables: Seq[String],       // row direction
      distinct: Boolean,
      removeAfterMerged: Boolean)

  final case class PostProcessorReq(module: String, options: Map[String, JsonNode])

  final case class QueryReq(sql: String,
      postProcessors: Seq[PostProcessorReq] = Nil)

  final case class ResponseReq(format: Option[String])

  final case class DataFrameQueryReq(
      dataSources: Seq[DataSourceReq],
      processors: Seq[MergeProcessorReq],
      query: Option[QueryReq],
      response: ResponseReq)

  final case class SessionQueryReq(query: QueryReq, response: ResponseReq)

  /** `POST /session/{id}/index`; name, table and the column names are
    * validated identifiers (they become path segments of the index dir).
    */
  final case class IndexReq(name: String, table: String, indexType: String,
      vecCol: String, idCol: String, seeded: Boolean, numCells: Int, m: Int,
      ksub: Int, iters: Int, graphK: Int, buildRounds: Int)

  final case class IvfSearchReq(queryId: Option[Long], vector: Option[Array[Double]],
      table: Option[String], k: Int, nprobe: Option[Int], rerank: Int,
      response: ResponseReq)

  final case class GraphSearchReq(table: String, queryIds: Seq[Long], k: Int,
      beamWidth: Int, hops: Int, coarseEntryK: Option[Int], response: ResponseReq)

  /** Both index families' append body; `corpusTable`, `beamWidth` and
    * `hops` are read by the graph family only.
    */
  final case class AppendReq(table: String, corpusTable: Option[String],
      beamWidth: Option[Int], hops: Int)

  final case class RepairReq(deletedTable: String, corpusTable: String)

  // ---------------------------------------------------------------

  def parseDataFrameQuery(body: String): DataFrameQueryReq = {
    val n = mapper.readTree(body)
    DataFrameQueryReq(
      dataSources = arr(n, "dataSources").map(parseDataSource),
      processors = field(n, "processor").map(parseMerge).toSeq ++
        arr(n, "processors").map(parseMerge),
      query = field(n, "query").map(q =>
        QueryReq(required(q, "sql", "query.sql required"), postProcessorsOf(n, Some(q)))),
      response = responseOf(n))
  }

  /** Session query: raw `application/sql`, or JSON `{sql}`,
    * `{query: "…"}` or `{query: {sql}}`, with the one-shot door's
    * postProcessors and response handling
    * (reference: response/handler/session.rs:90-124,151-171).
    */
  def parseSessionQuery(body: String, contentType: String): SessionQueryReq =
    if (contentType.startsWith("application/sql"))
      SessionQueryReq(QueryReq(body), ResponseReq(None))
    else {
      val n = mapper.readTree(body)
      val q = field(n, "query")
      val sql = text(n, "sql")
        .orElse(q.flatMap(qn => if (qn.isTextual) Some(qn.asText()) else text(qn, "sql")))
        .getOrElse(throw new IllegalArgumentException("sql required"))
      SessionQueryReq(QueryReq(sql, postProcessorsOf(n, q)), responseOf(n))
    }

  /** Data-source requests: a bare array, a {dataSources: []} wrapper,
    * or a single object (the add and save routes).
    */
  def parseDataSourceDefs(body: String): Seq[DataSourceReq] = {
    val n = mapper.readTree(body)
    (if (n.isArray) n.elements().asScala.toSeq
     else array(n, "dataSources").getOrElse(Seq(n))).map(parseDataSource)
  }

  def parseDataSource(n: JsonNode): DataSourceReq = {
    val o = field(n, "options")
    DataSourceReq(
      format = text(n, "format").getOrElse("json"),
      name = required(n, "name", "dataSource.name required"),
      location = text(n, "location"),
      data = text(n, "data"),
      schemaJson = field(n, "schema").map(_.toString),
      options = Options(
        hasHeader = o.flatMap(bool(_, "hasHeader")).getOrElse(true),
        inferSchemaRows = o.flatMap(int(_, "inferSchemaRows")).getOrElse(100),
        delimiter = o.flatMap(text(_, "delimiter")).flatMap(_.headOption).getOrElse(','),
        jsonPath = o.flatMap(text(_, "jsonPath")),
        requireNormalize = o.flatMap(bool(_, "requireNormalize")).getOrElse(false),
        overwrite = o.flatMap(bool(_, "overwrite")).getOrElse(true),
        version = o.flatMap(long(_, "version"))),
      pluginOptions = objMap(n, "pluginOptions"))
  }

  /** `postProcessors: [{module, pluginOptions: {...}}]` nested in the
    * query object (reference `request/body.rs:322-339`). Option
    * values stay raw JsonNodes — each processor interprets its own.
    */
  def parsePostProcessors(queryNode: JsonNode): Seq[PostProcessorReq] =
    arr(queryNode, "postProcessors").map(p => PostProcessorReq(
      required(p, "module", "postProcessor.module required"), objMap(p, "pluginOptions")))

  /** Standalone processor-route body (reference `body.rs:317-320`):
    * `{"mergeProcessors":[...]}`.
    * None = `mergeProcessors` absent (or not an array) — the
    * reference's 400 "Processors not specified" (processor.rs:23-31);
    * Some(Nil) = present but empty, which the reference executes as
    * zero merges and answers 204. The two must stay distinguishable.
    */
  def parseProcessorBody(body: String): Option[Seq[MergeProcessorReq]] =
    array(mapper.readTree(body), "mergeProcessors").map(_.map(parseMerge))

  def parseIndex(body: String): IndexReq = {
    val n = mapper.readTree(body)
    val name = safeIdent(required(n, "name", "index.name required"), "index.name")
    val table = safeIdent(required(n, "table", "index.table required"), "index.table")
    val indexType = text(n, "type").getOrElse("ivf")
    require(indexType == "ivf" || indexType == "graph",
      s"index.type must be ivf or graph, got $indexType")
    // seeded = deterministic data-derived quantizers (the s20
    // oracle-twin build flavor), trained Lloyd otherwise
    IndexReq(name, table, indexType,
      colIdent(text(n, "vecCol").getOrElse("embedding"), "vecCol"),
      colIdent(text(n, "idCol").getOrElse("id"), "idCol"), bool(n, "seeded").getOrElse(false),
      int(n, "numCells").getOrElse(16), int(n, "m").getOrElse(8), int(n, "ksub").getOrElse(16),
      int(n, "iters").getOrElse(3), int(n, "graphK").getOrElse(8),
      int(n, "buildRounds").getOrElse(2))
  }

  /** `{queryId|vector, table?, k?, nprobe?, rerank?, response?}`. */
  def parseIvfSearch(body: String): IvfSearchReq = {
    val n = mapper.readTree(body)
    IvfSearchReq(long(n, "queryId"), array(n, "vector").map(_.map(_.asDouble()).toArray),
      text(n, "table"), int(n, "k").getOrElse(10), int(n, "nprobe"),
      int(n, "rerank").getOrElse(0), responseOf(n))
  }

  /** `{table, queryIds: [..], k?, beamWidth?, hops?, coarseEntryK?,
    * response?}`; queries address corpus ids.
    */
  def parseGraphSearch(body: String): GraphSearchReq = {
    val n = mapper.readTree(body)
    val table = required(n, "table", "search.table required")
    val queryIds = array(n, "queryIds").getOrElse(throw new IllegalArgumentException(
      "graph search requires queryIds (an array of corpus ids)")).map(_.asLong())
    val k = int(n, "k").getOrElse(10)
    GraphSearchReq(table, queryIds, k, int(n, "beamWidth").getOrElse(2 * k),
      int(n, "hops").getOrElse(3), int(n, "coarseEntryK"), responseOf(n))
  }

  def parseAppend(body: String): AppendReq = {
    val n = mapper.readTree(body)
    AppendReq(required(n, "table", "append.table required"), text(n, "corpusTable"),
      int(n, "beamWidth"), int(n, "hops").getOrElse(3))
  }

  def parseRepair(body: String): RepairReq = {
    val n = mapper.readTree(body)
    RepairReq(required(n, "deletedTable", "repair.deletedTable required"),
      required(n, "corpusTable", "graph repair requires corpusTable (the corpus the " +
        "index was built over, INCLUDING the rows being deleted)"))
  }

  def parseMerge(n: JsonNode): MergeProcessorReq = {
    val opts = field(n, "options")
    MergeProcessorReq(
      direction = text(n, "direction").getOrElse("column"),
      baseTable = required(n, "baseTable", "processor.baseTable required"),
      targets = arr(n, "targets").map { t =>
        MergeTarget(
          table = required(t, "table", "target.table required"),
          baseKeys = arr(t, "baseKeys").flatMap(x => Option(x.asText())),
          targetKeys = arr(t, "targetKeys").flatMap(x => Option(x.asText())))
      },
      targetTables = arr(n, "targetTables").flatMap(x => Option(x.asText())),
      distinct = opts.flatMap(bool(_, "distinct")).getOrElse(false),
      removeAfterMerged = opts.flatMap(bool(_, "removeAfterMerged")).getOrElse(false))
  }

  // JSON helpers: a JSON null counts as an absent field ---------

  /** The query object's postProcessors first, then the top level's:
    * one chain order for the one-shot and the session doors.
    */
  private def postProcessorsOf(n: JsonNode, query: Option[JsonNode]): Seq[PostProcessorReq] =
    query.filterNot(_.isTextual).map(parsePostProcessors).getOrElse(Nil) ++
      parsePostProcessors(n)
  private def responseOf(n: JsonNode): ResponseReq =
    ResponseReq(field(n, "response").flatMap(text(_, "format")))

  /** Request-body strings that become filesystem path segments (index
    * name, table name): a conservative identifier shape — no dots, no
    * separators — so "../" or an absolute path can never reach
    * `Path.resolve` (which would let a request write, overwrite, or
    * orphan directories outside its session spool).
    */
  private def safeIdent(s: String, what: String) = ident(s, what, "[A-Za-z0-9_][A-Za-z0-9_-]{0,63}")

  /** Column identifiers embedded in the index-dir leaf alongside '-'
    * separated params: word chars only, so the leaf stays unambiguous.
    */
  private def colIdent(s: String, what: String) = ident(s, what, "[A-Za-z0-9_]{1,64}")

  private def ident(s: String, what: String, pattern: String): String = {
    if (!s.matches(pattern)) throw new IllegalArgumentException(
      s"$what must match $pattern: got ${TextNode.valueOf(s)}")
    s
  }

  private def field(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)
  private def objMap(n: JsonNode, f: String): Map[String, JsonNode] =
    field(n, f)
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue).toMap)
      .getOrElse(Map.empty)
  /** None when absent or not an array. */
  private def array(n: JsonNode, f: String): Option[Seq[JsonNode]] =
    field(n, f).filter(_.isArray).map(_.elements().asScala.toSeq)
  private def arr(n: JsonNode, f: String): Seq[JsonNode] = array(n, f).getOrElse(Nil)
  private def text(n: JsonNode, f: String): Option[String] = field(n, f).map(_.asText())
  private def required(n: JsonNode, f: String, missing: String): String =
    text(n, f).getOrElse(throw new IllegalArgumentException(missing))
  private def bool(n: JsonNode, f: String): Option[Boolean] = field(n, f).map(_.asBoolean())
  private def int(n: JsonNode, f: String): Option[Int] = field(n, f).map(_.asInt())
  private def long(n: JsonNode, f: String): Option[Long] = field(n, f).map(_.asLong())
}
