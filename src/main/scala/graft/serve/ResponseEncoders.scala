package graft.serve

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.ArrowBridge
import org.apache.spark.sql.types._

import java.io.{ByteArrayOutputStream, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Response encoders for the serving surface (SURVEY §2.A19-A21):
  * JSON array (the reference's default response format,
  * `lib/src/response/format/json_array_stream.rs:7-16`), CSV
  * (`format/csv_stream.rs:9-28`, Arrow-writer quoting rules), and
  * Arrow IPC stream (`format/arrow_stream.rs:7-19`, via
  * [[ArrowBridge]] — bit-identical framing).
  *
  * Value rendering follows the Arrow JSON writer's conventions:
  * timestamps as ISO-8601 (µs precision, no zone suffix for NTZ),
  * dates as yyyy-MM-dd, decimals as plain (non-scientific) numbers,
  * binary as base64, nested list/struct/map as JSON.
  */
object ResponseEncoders {

  // fraction printed only when non-zero (Arrow JSON writer style)
  private val tsFmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
    .appendFraction(java.time.temporal.ChronoField.MICRO_OF_SECOND, 0, 6, true)
    .toFormatter()

  sealed trait Format { def contentType: String }
  case object JsonFormat extends Format { val contentType = "application/json" }
  case object CsvFormat extends Format { val contentType = "text/csv" }
  case object ArrowFormat extends Format {
    val contentType = "application/vnd.apache.arrow.stream"
  }

  /** Negotiate from body format + Accept header (reference
    * `response/http_response.rs:51-63`, `request/header.rs:40-60`):
    * explicit body format wins, else Accept, else JSON.
    */
  def negotiate(bodyFormat: Option[String], accept: Option[String]): Format =
    bodyFormat.map(_.toLowerCase) match {
      case Some("json") => JsonFormat
      case Some("csv") => CsvFormat
      case Some("arrow") => ArrowFormat
      case _ =>
        accept.map(_.toLowerCase) match {
          case Some(a) if a.contains("arrow") => ArrowFormat
          case Some(a) if a.contains("text/csv") => CsvFormat
          case _ => JsonFormat
        }
    }

  def encode(df: DataFrame, fmt: Format, out: OutputStream): Unit = fmt match {
    case JsonFormat  => writeJsonArray(df, out)
    case CsvFormat   => writeCsv(df, out)
    case ArrowFormat => ArrowBridge.writeIpcStream(df, out): Unit
  }

  def encodeToBytes(df: DataFrame, fmt: Format): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    encode(df, fmt, bos)
    bos.toByteArray
  }

  // ----------------------------------------------------------------
  // JSON array
  // ----------------------------------------------------------------

  private val jsonFactory = new JsonFactory()

  def writeJsonArray(df: DataFrame, out: OutputStream): Unit = {
    val gen = jsonFactory.createGenerator(out)
    val schema = df.schema
    gen.writeStartArray()
    // toLocalIterator: one partition at a time on the driver — the
    // streamed-delivery analogue of execute_stream (SURVEY §1.1).
    df.toLocalIterator().asScala.foreach { row =>
      gen.writeStartObject()
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        gen.writeFieldName(f.name)
        writeValue(gen, row.get(i), f.dataType)
      }
      gen.writeEndObject()
    }
    gen.writeEndArray()
    gen.flush()
  }

  private def writeValue(gen: com.fasterxml.jackson.core.JsonGenerator,
      v: Any, dt: DataType): Unit = {
    if (v == null) { gen.writeNull(); return }
    dt match {
      case BooleanType => gen.writeBoolean(v.asInstanceOf[Boolean])
      case ByteType => gen.writeNumber(v.asInstanceOf[Byte].toInt)
      case ShortType => gen.writeNumber(v.asInstanceOf[Short].toInt)
      case IntegerType => gen.writeNumber(v.asInstanceOf[Int])
      case LongType => gen.writeNumber(v.asInstanceOf[Long])
      case FloatType => gen.writeNumber(v.asInstanceOf[Float])
      case DoubleType => gen.writeNumber(v.asInstanceOf[Double])
      case _: DecimalType => gen.writeNumber(v.asInstanceOf[java.math.BigDecimal])
      case StringType => gen.writeString(v.toString)
      case BinaryType =>
        gen.writeString(Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
      case DateType => gen.writeString(v.toString) // java.sql.Date → yyyy-MM-dd
      case TimestampType =>
        val ts = v.asInstanceOf[java.sql.Timestamp]
        gen.writeString(ts.toInstant.atZone(java.time.ZoneOffset.UTC)
          .toLocalDateTime.format(tsFmt))
      case TimestampNTZType =>
        gen.writeString(v.asInstanceOf[java.time.LocalDateTime].format(tsFmt))
      case ArrayType(et, _) =>
        gen.writeStartArray()
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(writeValue(gen, _, et))
        gen.writeEndArray()
      case MapType(_, vt, _) =>
        gen.writeStartObject()
        v.asInstanceOf[scala.collection.Map[Any, Any]].foreach { case (k, mv) =>
          gen.writeFieldName(String.valueOf(k))
          writeValue(gen, mv, vt)
        }
        gen.writeEndObject()
      case st: StructType =>
        val r = v.asInstanceOf[Row]
        gen.writeStartObject()
        st.fields.zipWithIndex.foreach { case (f, i) =>
          gen.writeFieldName(f.name)
          writeValue(gen, r.get(i), f.dataType)
        }
        gen.writeEndObject()
      case _ => gen.writeString(v.toString)
    }
  }

  // ----------------------------------------------------------------
  // CSV — header row, comma-delimited, RFC-4180 quoting (quote iff
  // delimiter/quote/CR/LF present), matching the Arrow CSV writer's
  // defaults.
  // ----------------------------------------------------------------

  private def writeCsv(df: DataFrame, out: OutputStream): Unit = {
    val delimiter = ','
    val w = new OutputStreamWriter(out, StandardCharsets.UTF_8)
    val schema = df.schema
    def field(s: String): String =
      if (s.indexOf(delimiter) >= 0 || s.indexOf('"') >= 0 ||
          s.indexOf('\n') >= 0 || s.indexOf('\r') >= 0)
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    w.write(schema.fieldNames.map(field).mkString(delimiter.toString))
    w.write("\n")
    df.toLocalIterator().asScala.foreach { row =>
      val cells = schema.fields.zipWithIndex.map { case (f, i) =>
        val v = row.get(i)
        if (v == null) ""
        else f.dataType match {
          case TimestampType =>
            field(v.asInstanceOf[java.sql.Timestamp].toInstant
              .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFmt))
          case TimestampNTZType =>
            field(v.asInstanceOf[java.time.LocalDateTime].format(tsFmt))
          case BinaryType =>
            field(Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
          case _ => field(String.valueOf(v))
        }
      }
      w.write(cells.mkString(delimiter.toString))
      w.write("\n")
    }
    w.flush()
  }
}
