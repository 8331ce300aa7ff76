package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.engine.SessionManager
import graft.serve.ResponseEncoders
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ArrowBridge

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

/** What every workload shares: the engine, the fixture and the seed. */
final case class Ctx(spark: SparkSession, fixture: Path, seed: Long, clients: Int, cpus: Int) {
  def rng(stream: Int): java.util.Random = new java.util.Random(seed * 1000003L + stream)
  def table(name: String): String = Fixture.path(fixture, name)
}

/** A checked response: correct or not (and why), the share of the exact
  * answer's top ten it returned, and the rows it held.
  */
final case class Outcome(ok: Boolean, recall: Double, rows: Int, why: String = "")

/** The in-process route: the layers' public functions, called from the
  * benchmark with a span around each call.
  */
final class Direct(val sessions: SessionManager, val t: Tracer) {
  /** Result frames of the current request, for their planning phases. */
  val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Encode as the server's response writer does, into memory. */
  def encode(df: DataFrame, format: String): Raw = {
    frames += df
    val fmt = ResponseEncoders.negotiate(Some(format), None)
    val out = new java.io.ByteArrayOutputStream()
    t.span(s"serve.encode.${format.toLowerCase}") {
      fmt match {
        case ResponseEncoders.ArrowFormat => ArrowBridge.writeIpcStream(df, out): Unit
        case _ => ResponseEncoders.encode(df, fmt, out)
      }
    }
    t.count("serve.encode_bytes", out.size())
    Raw(200, fmt.contentType, out.toByteArray)
  }

  def parseJson(body: Array[Byte]): com.fasterxml.jackson.databind.JsonNode = {
    t.count("serve.request_bytes", body.length)
    t.span("serve.parse") { Direct.mapper.readTree(body) }
  }
}

object Direct {
  val mapper = new ObjectMapper()
}

/** One request of a workload's seeded stream. */
trait Req {
  /** Position in the workload's global stream. */
  def pos: Int
  def kind: String
  /** The request over HTTP (timed). */
  def send(http: Http): Raw
  /** The same request through the layers' public functions (timed). */
  def direct(d: Direct): Raw
  /** Decode and compare with the expected answer (untimed). */
  def check(r: Raw): Outcome
}

/** A seeded closed-loop workload. The global stream is dealt round
  * robin to the clients; the traced replay walks it in order.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Build the seeded request stream (before setup). */
  def prepare(): Unit
  /** Compute the expected answers the checks need that `prepare` left
    * out. A timed run calls it after its window, once the JVM is warm;
    * a traced run before its replay.
    */
  def expect(): Unit = ()
  def setupHttp(http: Http): Unit
  def teardownHttp(http: Http): Unit
  def setupDirect(d: Direct): Unit
  def teardownDirect(d: Direct): Unit
  def stream: IndexedSeq[Req]

  /** Client `c`'s `i`-th request, cycling through its share of the stream. */
  def request(c: Int, i: Int): Req = {
    val perClient = stream.size / ctx.clients
    stream((i % perClient) * ctx.clients + c)
  }

  /** Requests each client sends during every setup, before timing. */
  def warmup: Int = 2

  /** A line of workload-specific facts for the report. */
  def describe: String

  protected def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
  protected def jstr(s: String): String =
    com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString
}

object Workload {
  val Names = Seq("session_query", "oneshot_ingest", "vector_search")

  /** `n` kinds laid out as consecutive shuffles of `block`, so every
    * prefix of the stream holds the block's proportions to within one
    * block, whatever the seed.
    */
  def blocks(rng: java.util.Random, n: Int, block: Seq[Int]): IndexedSeq[Int] =
    Iterator.continually {
      val b = block.toArray
      (b.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
      }
      b.toSeq
    }.flatten.take(n).toIndexedSeq

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "session_query" => new SessionQuery(ctx)
    case "oneshot_ingest" => new OneShotIngest(ctx)
    case "vector_search" => new VectorSearch(ctx)
  }
}
