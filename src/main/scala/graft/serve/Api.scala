package graft.serve

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper

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
  private[serve] val mapper = new ObjectMapper()

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

  // ---------------------------------------------------------------

  def parseDataFrameQuery(body: String): DataFrameQueryReq = {
    val n = mapper.readTree(body)
    DataFrameQueryReq(
      dataSources = arr(n, "dataSources").map(parseDataSource),
      processors = Option(n.get("processor")).map(parseMerge).toSeq ++
        arr(n, "processors").map(parseMerge),
      // top-level postProcessors accepted alongside query-nested ones
      // (the session route honors both; keep the doors consistent)
      query = Option(n.get("query")).map(q =>
        QueryReq(text(q, "sql").getOrElse(
          throw new IllegalArgumentException("query.sql required")),
          parsePostProcessors(q) ++ parsePostProcessors(n))),
      response = ResponseReq(Option(n.get("response")).flatMap(r => text(r, "format"))))
  }

  def parseDataSource(n: JsonNode): DataSourceReq = {
    val o = Option(n.get("options"))
    DataSourceReq(
      format = text(n, "format").getOrElse("json"),
      name = text(n, "name").getOrElse(
        throw new IllegalArgumentException("dataSource.name required")),
      location = text(n, "location"),
      data = text(n, "data"),
      schemaJson = Option(n.get("schema")).map(_.toString),
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
    arr(queryNode, "postProcessors").map { p =>
      PostProcessorReq(
        module = text(p, "module").getOrElse(
          throw new IllegalArgumentException("postProcessor.module required")),
        options = objMap(p, "pluginOptions"))
    }

  /** Standalone processor-route body (reference `body.rs:317-320`):
    * `{"mergeProcessors":[...]}`.
    * None = `mergeProcessors` absent (or not an array) — the
    * reference's 400 "Processors not specified" (processor.rs:23-31);
    * Some(Nil) = present but empty, which the reference executes as
    * zero merges and answers 204. The two must stay distinguishable.
    */
  def parseProcessorBody(body: String): Option[Seq[MergeProcessorReq]] = {
    val n = mapper.readTree(body)
    Option(n.get("mergeProcessors")).filter(_.isArray)
      .map(_.elements().asScala.toSeq.map(parseMerge))
  }

  def parseMerge(n: JsonNode): MergeProcessorReq = {
    val opts = Option(n.get("options"))
    MergeProcessorReq(
      direction = text(n, "direction").getOrElse("column"),
      baseTable = text(n, "baseTable").getOrElse(
        throw new IllegalArgumentException("processor.baseTable required")),
      targets = arr(n, "targets").map { t =>
        MergeTarget(
          table = text(t, "table").getOrElse(
            throw new IllegalArgumentException("target.table required")),
          baseKeys = arr(t, "baseKeys").flatMap(x => Option(x.asText())),
          targetKeys = arr(t, "targetKeys").flatMap(x => Option(x.asText())))
      },
      targetTables = arr(n, "targetTables").flatMap(x => Option(x.asText())),
      distinct = opts.flatMap(bool(_, "distinct")).getOrElse(false),
      removeAfterMerged = opts.flatMap(bool(_, "removeAfterMerged")).getOrElse(false))
  }

  // JSON helpers -------------------------------------------------

  private def objMap(n: JsonNode, f: String): Map[String, JsonNode] =
    Option(n.get(f))
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue).toMap)
      .getOrElse(Map.empty)
  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    Option(n.get(f)).filter(_.isArray).map(_.elements().asScala.toSeq).getOrElse(Nil)
  private def text(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText())
  private def bool(n: JsonNode, f: String): Option[Boolean] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean())
  private def int(n: JsonNode, f: String): Option[Int] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asInt())
  private def long(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong())
}
