package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Data-source ingest options, mirroring the reference's per-source
  * options (`lib/src/request/body.rs:15-31`, defaults at :49-60).
  */
final case class IngestOptions(
    hasHeader: Boolean = true,
    inferSchemaRows: Int = 100,
    delimiter: Char = ',',
    jsonPath: Option[String] = None,
    requireNormalize: Boolean = false,
    schema: Option[StructType] = None,
    /** Where to spool buffered bytes; session-scoped dirs are deleted
      * with their session (falls back to JVM-lifetime temp files). */
    spoolDir: Option[Path] = None)

/** Format readers for the serving layer (SURVEY §2.A1-A8).
  *
  * Design split (same as the reference):
  *  - *buffered* ingest — bytes that arrived over HTTP or upload are
  *    written to a session-scoped spool file, then read with the
  *    normal Spark reader (the reference materializes Arrow batches,
  *    `lib/src/data_source/csv.rs:15-70`; under Spark, a local temp
  *    file + native reader keeps the scan vectorized and lazy).
  *  - *listing* ingest — a path/URI registered directly so Catalyst
  *    keeps predicate/projection pushdown and partition pruning
  *    (`lib/src/data_source/object_store/reader.rs:14-112`).
  *
  * The JSON *document* path (top-level JSON array, possibly behind a
  * JSONPath) is parsed driver-side with Jackson exactly like the
  *  reference's own decoder (`decoder/json_decoder.rs:88-933`), then
  * handed to Spark's multiLine JSON reader for schema
  * inference/decoding — so nested struct/list/map decoding is Spark's
  * vectorized code, not hand-rolled row loops.
  */
object Readers {

  private val mapper = new ObjectMapper()

  /** CSV with the reference's inference semantics: infer over the
    * first `inferSchemaRows` rows only (`data_source/csv.rs:44-57`),
    * then read the full file with the pinned schema.
    */
  def csv(spark: SparkSession, path: String, opts: IngestOptions = IngestOptions()): DataFrame = {
    val base = spark.read
      .option("header", opts.hasHeader)
      .option("delimiter", opts.delimiter.toString)
    opts.schema match {
      case Some(s) => base.schema(s).csv(path)
      case None =>
        // row-limited inference: sample N rows, pin, re-read
        val sample = base.option("inferSchema", true)
          .csv(spark.read.textFile(path).limit(
            opts.inferSchemaRows + (if (opts.hasHeader) 1 else 0)))
        base.schema(sample.schema).csv(path)
    }
  }

  /** CSV from raw bytes (HTTP body / multipart upload). */
  def csvBytes(spark: SparkSession, bytes: Array[Byte], opts: IngestOptions = IngestOptions()): DataFrame =
    csv(spark, spool(bytes, ".csv", opts.spoolDir).toString, opts)

  /** ndJSON (line-delimited). Spark-native reader
    * (`nd_json.rs:19-62` equivalent).
    */
  def ndJson(spark: SparkSession, path: String, opts: IngestOptions = IngestOptions()): DataFrame =
    opts.schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  def ndJsonBytes(spark: SparkSession, bytes: Array[Byte], opts: IngestOptions = IngestOptions()): DataFrame =
    ndJson(spark, spool(bytes, ".ndjson", opts.spoolDir).toString, opts)

  /** JSON *document*: a top-level JSON array of records, optionally
    * sliced by a JSONPath (default `$.*` when a path is present) and
    * optionally "normalized" (positional arrays → named columns,
    * `with_jsonpath.rs:44-66`).
    */
  def jsonDocument(spark: SparkSession, text: String, opts: IngestOptions = IngestOptions()): DataFrame = {
    val root = mapper.readTree(text)
    val selected = opts.jsonPath match {
      case Some(p) => JsonPath.select(root, p)
      case None =>
        root match {
          case a: ArrayNode => a.elements().asScala.toSeq
          case other        => Seq(other)
        }
    }
    val records: Seq[com.fasterxml.jackson.databind.JsonNode] =
      if (opts.requireNormalize) normalize(selected) else selected
    // ndJSON spool → Spark's JSON decoder does typed decoding/inference
    val nd = records.map(mapper.writeValueAsString).mkString("\n")
    val spooled = spool(nd.getBytes(StandardCharsets.UTF_8), ".ndjson", opts.spoolDir)
    opts.schema match {
      case Some(s) => spark.read.schema(s).json(spooled.toString)
      case None    => spark.read.json(spooled.toString)
    }
  }

  def jsonDocumentFile(spark: SparkSession, path: String, opts: IngestOptions = IngestOptions()): DataFrame =
    jsonDocument(spark, Files.readString(Paths.get(stripFileScheme(path))), opts)

  /** Positional-array rows → named columns c0..cN (or first row as
    * header when all its values are strings — matching the
    * reference's normalize semantics for worksheet-shaped data).
    */
  private def normalize(rows: Seq[com.fasterxml.jackson.databind.JsonNode]): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val arrays = rows.collect { case a: ArrayNode => a }
    if (arrays.isEmpty) return rows
    val headerRow = arrays.head
    val allText = headerRow.elements().asScala.forall(_.isTextual)
    val names: Seq[String] =
      if (allText && arrays.length > 1) headerRow.elements().asScala.map(_.asText()).toSeq
      else (0 until arrays.map(_.size).max).map(i => s"c$i")
    val dataRows = if (allText && arrays.length > 1) arrays.tail else arrays
    dataRows.map { a =>
      val o: ObjectNode = mapper.createObjectNode()
      names.zipWithIndex.foreach { case (n, i) =>
        o.set[com.fasterxml.jackson.databind.JsonNode](n, Option(a.get(i)).getOrElse(mapper.nullNode()))
      }
      o
    }
  }

  /** Parquet — native lazy scan (`parquet.rs:14-46`). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Avro (`object_store/reader.rs:115-134`). spark-avro isn't in
    * this distribution; [[AvroReader]] decodes via Avro core.
    */
  def avro(spark: SparkSession, path: String): DataFrame =
    AvroReader.read(spark, path)

  /** Arrow IPC ingest (`DataSourceFormat::Arrow`,
    * `request/body.rs:98-99`) — both the stream framing and the
    * random-access file framing (magic `ARROW1`) are accepted; the
    * bytes are decoded by Spark's own Arrow column→row machinery.
    */
  def arrowBytes(spark: SparkSession, bytes: Array[Byte]): DataFrame =
    org.apache.spark.sql.graftbridge.ArrowBridge.readIpcBytes(spark, bytes)

  /** Where a data source's content comes from: bytes that arrived
    * with a request (an upload part or an HTTP fetch), a location the
    * reader scans itself, or inline document text (`data`).
    */
  sealed trait Source
  object Source {
    final case class Bytes(bytes: Array[Byte]) extends Source
    final case class Location(path: String) extends Source
    final case class Inline(text: String) extends Source
  }

  /** The one format → reader dispatch of the serving layer: the
    * datasource route, the upload route and `CREATE EXTERNAL TABLE`
    * all read through it. Format names are case-insensitive
    * (`ndJson` = `ndjson`); `version` is Delta time travel.
    */
  def read(spark: SparkSession, format: String, source: Source,
      opts: IngestOptions = IngestOptions(), version: Option[Long] = None): DataFrame = {
    import Source._
    (format.toLowerCase, source) match {
      case ("csv", Bytes(b)) => csvBytes(spark, b, opts)
      case ("csv", Location(p)) => csv(spark, p, opts)
      case ("ndjson", Bytes(b)) => ndJsonBytes(spark, b, opts)
      case ("ndjson", Location(p)) => ndJson(spark, p, opts)
      case ("json", Bytes(b)) => jsonDocument(spark, new String(b, StandardCharsets.UTF_8), opts)
      case ("json", Location(p)) => jsonDocumentFile(spark, p, opts)
      case ("json", Inline(text)) => jsonDocument(spark, text, opts)
      case ("parquet", Bytes(b)) => parquet(spark, spool(b, ".parquet", opts.spoolDir).toString)
      case ("parquet", Location(p)) => parquet(spark, p)
      case ("avro", Location(p)) => avro(spark, p)
      case ("arrow", Bytes(b)) => arrowBytes(spark, b)
      case ("arrow", Location(p)) =>
        arrowBytes(spark, Files.readAllBytes(Paths.get(stripFileScheme(p))))
      case ("delta" | "deltalake", Location(p)) => DeltaReader.read(spark, p, version)
      case ("flight", Location(p)) => flight(spark, p)
      case (f, Bytes(_)) =>
        throw new IllegalArgumentException(s"unsupported format for uploaded or fetched bytes: $f")
      case (f, _) => throw new IllegalArgumentException(s"unsupported format: $f")
    }
  }

  /** Flight scan, feature-gated exactly like the reference's `flight`
    * cargo feature: resolved reflectively so the default (jar-less)
    * build keeps the format, with a clear error.
    */
  private def flight(spark: SparkSession, location: String): DataFrame =
    try {
      val cls = Class.forName("graft.flight.FlightScan$")
      cls.getMethod("read", classOf[SparkSession], classOf[String])
        .invoke(cls.getField("MODULE$").get(null), spark, location)
        .asInstanceOf[DataFrame]
    } catch {
      case _: ClassNotFoundException => throw new IllegalArgumentException(
        "flight datasource support is not built in this binary " +
          "(compile with -Dgraft.flight=true; see FLIGHT_BLOCKER.md)")
      // Method.invoke wraps the scan's own failures — rethrow the
      // cause so a bad URI stays a 400 with its real message
      case e: java.lang.reflect.InvocationTargetException =>
        throw Option(e.getCause).getOrElse(e)
    }

  /** Format sniffing for uploads: content-type first, then file
    * extension (`request/format.rs:8-52`).
    */
  def sniffFormat(contentType: Option[String], filename: Option[String]): Option[String] = {
    val byCt = contentType.map(_.toLowerCase.split(';').head.trim).collect {
      case "text/csv" | "application/csv"           => "csv"
      case "application/json"                       => "json"
      case "application/x-ndjson" | "application/jsonlines" => "ndJson"
      case "application/vnd.apache.parquet" | "application/parquet" => "parquet"
      case "application/avro" | "application/avro-binary" => "avro"
      case "application/vnd.apache.arrow.stream" |
           "application/vnd.apache.arrow.file" => "arrow"
    }
    byCt.orElse(filename.flatMap { f =>
      f.toLowerCase.split('.').lastOption.collect {
        case "csv" => "csv"
        case "json" => "json"
        case "ndjson" | "jsonl" => "ndJson"
        case "parquet" => "parquet"
        case "avro" => "avro"
        case "arrow" | "arrows" | "feather" => "arrow"
      }
    })
  }

  private def stripFileScheme(p: String): String =
    if (p.startsWith("file://")) p.substring("file://".length) else p

  /** Spool bytes to a temp file — in the caller's (session-scoped)
    * directory when given, else JVM-lifetime temp.
    */
  private def spool(bytes: Array[Byte], suffix: String, dir: Option[Path]): Path = {
    val f = dir match {
      case Some(d) => Files.createTempFile(d, "graft-ingest-", suffix)
      case None =>
        val t = Files.createTempFile("graft-ingest-", suffix)
        t.toFile.deleteOnExit()
        t
    }
    Files.write(f, bytes)
    f
  }
}
