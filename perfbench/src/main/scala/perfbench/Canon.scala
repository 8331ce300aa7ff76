package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Canonical form of result rows, so a response decoded from JSON, CSV
  * or Arrow compares with an answer computed outside the request path.
  *
  * A value becomes `i:<long>`, `d:<double>`, `s:<text>` or `n` (null); a
  * row becomes its `column=value` pairs sorted by column name; a result
  * is the sorted multiset of its rows, so the comparison ignores row and
  * column order.
  */
object Canon {

  type CanonRow = String

  /** An expected answer: sorted canonical rows and each column's kind
    * (`i`, `d` or `s`), which the CSV decoder needs.
    */
  final case class Answer(rows: IndexedSeq[CanonRow], kinds: Map[String, Char]) {
    lazy val digest: String = Canon.digest(rows)
    def size: Int = rows.size
  }

  private val mapper = new ObjectMapper()

  def value(v: Any): String = v match {
    case null => "n"
    case x: java.lang.Long => s"i:$x"
    case x: java.lang.Integer => s"i:$x"
    case x: java.lang.Short => s"i:$x"
    case x: java.lang.Double => s"d:$x"
    case x: String => s"s:$x"
    case other => s"s:$other"
  }

  def row(pairs: Iterable[(String, String)]): CanonRow =
    pairs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\u0001")

  def answer(rows: Iterable[CanonRow], kinds: Map[String, Char]): Answer =
    Answer(rows.toIndexedSeq.sorted, kinds)

  def digest(sortedRows: Seq[CanonRow]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    sortedRows.foreach { r => md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Spark rows (the expected side) in canonical form. */
  def fromSpark(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): Answer = {
    import org.apache.spark.sql.types._
    val kinds = schema.fields.map { f =>
      f.name -> (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => 'i'
        case DoubleType => 'd'
        case _ => 's'
      })
    }.toMap
    answer(rows.map(r => row(schema.fieldNames.toSeq.zipWithIndex.map { case (n, i) =>
      n -> value(r.get(i) match {
        case b: java.lang.Byte => java.lang.Long.valueOf(b.longValue())
        case x => x
      })
    })), kinds)
  }

  /** Decode a response body by its content type. */
  def decode(contentType: String, body: Array[Byte], kinds: Map[String, Char]): IndexedSeq[CanonRow] =
    if (contentType.contains("arrow")) arrow(body)
    else if (contentType.contains("csv")) csv(body, kinds)
    else json(body)

  def json(body: Array[Byte]): IndexedSeq[CanonRow] = {
    val root = mapper.readTree(body)
    require(root.isArray, "JSON response is not an array")
    root.elements().asScala.map { o =>
      row(o.properties().asScala.map(e => e.getKey -> jsonValue(e.getValue)))
    }.toIndexedSeq
  }

  private def jsonValue(n: JsonNode): String =
    if (n.isNull) "n"
    else if (n.isIntegralNumber) s"i:${n.asLong()}"
    else if (n.isNumber) s"d:${n.asDouble()}"
    else s"s:${n.asText()}"

  /** CSV as the server writes it: a header, no quoting in these
    * workloads' values; cells typed by the expected answer's kinds.
    */
  def csv(body: Array[Byte], kinds: Map[String, Char]): IndexedSeq[CanonRow] = {
    val lines = new String(body, StandardCharsets.UTF_8).split("\n", -1).toIndexedSeq
      .filter(_.nonEmpty)
    require(lines.nonEmpty, "CSV response has no header")
    val names = lines.head.split(",", -1).toIndexedSeq
    lines.tail.map { line =>
      val cells = line.split(",", -1)
      require(cells.length == names.length, s"CSV row has ${cells.length} cells, header ${names.length}")
      row(names.zip(cells).map { case (n, c) =>
        n -> (if (c.isEmpty) "n" else kinds.getOrElse(n, 's') match {
          case 'i' => s"i:${c.toLong}"
          case 'd' => s"d:${c.toDouble}"
          case _ => s"s:$c"
        })
      })
    }
  }

  def arrow(body: Array[Byte]): IndexedSeq[CanonRow] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(body), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val out = IndexedSeq.newBuilder[CanonRow]
        while (reader.loadNextBatch()) {
          val vecs = root.getFieldVectors.asScala.toSeq
          (0 until root.getRowCount).foreach { i =>
            out += row(vecs.map { v =>
              v.getName -> (v.getObject(i) match {
                case null => "n"
                case t: org.apache.arrow.vector.util.Text => s"s:$t"
                case x => value(x)
              })
            })
          }
        }
        out.result()
      } finally reader.close()
    } finally alloc.close()
  }

  /** Fraction of the answer's first ten rows found in `got`. */
  def overlapAt10(expected: Answer, got: Seq[CanonRow]): Double = {
    val want = expected.rows.take(10)
    if (want.isEmpty) 1.0 else want.count(got.toSet).toDouble / want.size
  }
}
