package perfbench

import graft.engine.DataSourceDef
import graft.serve.{Api, Processors}

import java.time.LocalDate
import java.util.concurrent.Executors
import scala.collection.mutable

/** Short SQL on long-lived sessions: each client owns a session with the
  * six fixture tables registered by parquet location, and sends a seeded
  * mix of five query shapes. Early in the stream about half the requests
  * repeat an earlier SQL text exactly; once the pool of texts is used up
  * all of them do. A quarter of the responses are Arrow, the rest JSON.
  */
final class SessionQuery(ctx: Ctx) extends Workload(ctx) {
  val name = "session_query"

  /** Distinct SQL texts per query shape; each one's answer is computed
    * on the root session.
    */
  val PerShape = 6
  val Shapes = 5
  val StreamSize = 4096

  private var answers: Map[String, Canon.Answer] = Map.empty
  private var texts: IndexedSeq[String] = IndexedSeq.empty
  private var reqs: IndexedSeq[Req] = IndexedSeq.empty
  private var sqls: IndexedSeq[String] = IndexedSeq.empty
  def stream: IndexedSeq[Req] = reqs

  private def session(c: Int) = s"pb-s$c"

  private def text(rng: java.util.Random, shape: Int): String = {
    def day(span: Int) = LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(span).toLong)
    shape match {
      case 0 =>
        val a = rng.nextInt(150000 - 10)
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem " +
          s"WHERE l_orderkey BETWEEN $a AND ${a + 9} ORDER BY l_orderkey, l_linenumber"
      case 1 =>
        val d = day(2400)
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, " +
          "SUM(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem " +
          s"WHERE l_shipdate >= DATE '$d' AND l_shipdate < DATE '${d.plusDays(30)}' " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
      case 2 =>
        val d = day(2300)
        val seg = Fixture.Segments(rng.nextInt(Fixture.Segments.size))
        "SELECT c.c_name, n.n_name, COUNT(*) AS orders, SUM(o.o_totalprice) AS total " +
          "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
          "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
          s"WHERE c.c_mktsegment = '$seg' AND o.o_orderdate >= DATE '$d' " +
          s"AND o.o_orderdate < DATE '${d.plusDays(60)}' " +
          "GROUP BY c.c_name, n.n_name ORDER BY total DESC, c.c_name LIMIT 10"
      case 3 =>
        val c = rng.nextInt(15000 - 20)
        "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (SELECT o_custkey, o_orderkey, " +
          "o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, " +
          s"o_orderkey) AS rn FROM orders WHERE o_custkey BETWEEN $c AND ${c + 19}) t " +
          "WHERE rn <= 3 ORDER BY o_custkey, rn"
      case _ =>
        if (rng.nextBoolean()) {
          val q = rng.nextInt(Fixture.EmbeddingRows)
          "SELECT e.vec_id, cosine_similarity(e.embedding, q.embedding) AS cs " +
            "FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings " +
            s"WHERE vec_id = $q) q WHERE e.vec_id <> $q ORDER BY cs DESC, e.vec_id LIMIT 10"
        } else {
          val a = rng.nextInt(5000 - 20)
          "SELECT doc_id, size(shingle_hashes(text, 3)) AS shingles, n_chars FROM documents " +
            s"WHERE doc_id BETWEEN $a AND ${a + 19} ORDER BY doc_id"
        }
    }
  }

  /** Shapes and formats come in shuffled blocks (two of each shape per
    * ten requests, one Arrow response per four). Each request repeats an
    * earlier text of its shape or, with even odds, takes the shape's next
    * new text, until the shape's texts are used up.
    */
  def prepare(): Unit = {
    val rng = ctx.rng(1)
    val pool = (0 until Shapes).map { sh =>
      val texts = mutable.LinkedHashSet.empty[String]
      while (texts.size < PerShape) texts += text(rng, sh)
      texts.toIndexedSeq
    }
    texts = pool.flatten
    val issued = IndexedSeq.fill(Shapes)(mutable.ArrayBuffer.empty[String])
    sqls = Workload.blocks(rng, StreamSize, (0 until Shapes) ++ (0 until Shapes)).map { sh =>
      val seen = issued(sh)
      if (seen.nonEmpty && (seen.size == PerShape || rng.nextBoolean())) seen(rng.nextInt(seen.size))
      else { seen += pool(sh)(seen.size); seen.last }
    }
    val formats = Workload.blocks(rng, StreamSize, Seq(1, 0, 0, 0))
    reqs = sqls.indices.map { pos =>
      new SqlReq(pos, session(pos % ctx.clients), sqls(pos), if (formats(pos) == 1) "arrow" else "json")
    }
  }

  /** Each distinct text run directly on the root session, a few at a time. */
  override def expect(): Unit = if (answers.isEmpty) {
    Fixture.Tables.foreach(t => ctx.spark.read.parquet(ctx.table(t)).createOrReplaceTempView(t))
    val pool = Executors.newFixedThreadPool(ctx.cpus, (r: Runnable) => {
      val t = new Thread(r, "perfbench-expect-worker")
      t.setDaemon(true)
      t
    })
    try {
      val futures = texts.map(t => t -> pool.submit(() => {
        val df = ctx.spark.sql(t)
        Canon.fromSpark(df.collect().toSeq, df.schema)
      }))
      answers = futures.map { case (t, f) => t -> f.get() }.toMap
    } finally pool.shutdown()
  }

  private def sources: String = Fixture.Tables.map(t =>
    s"""{"format":"parquet","name":"$t","location":${jstr(ctx.table(t))}}""").mkString("[", ",", "]")

  def setupHttp(http: Http): Unit = (0 until ctx.clients).foreach { c =>
    http.must("POST", s"/session?id=${session(c)}")
    http.must("POST", s"/session/${session(c)}/datasource", sources)
  }

  def teardownHttp(http: Http): Unit =
    (0 until ctx.clients).foreach(c => http.must("DELETE", s"/session/${session(c)}"))

  def setupDirect(d: Direct): Unit = (0 until ctx.clients).foreach { c =>
    val h = d.t.span("engine.session_create") { d.sessions.create(Some(session(c)), 3600L) }
    Fixture.Tables.foreach { t =>
      val df = d.t.span("ingest.read") { graft.ingest.Readers.parquet(h.spark, ctx.table(t)) }
      d.t.span("engine.register") {
        d.sessions.registerTable(h, df, DataSourceDef(t, "parquet", Some(ctx.table(t)), None))
      }
    }
  }

  def teardownDirect(d: Direct): Unit =
    (0 until ctx.clients).foreach(c => d.t.span("engine.session_remove") { d.sessions.remove(session(c)) })

  override def describe: String = {
    val seen = mutable.HashSet.empty[String]
    val head = sqls.take(texts.size * 2)
    val repeats = head.count(!seen.add(_))
    f"pool of ${texts.size} SQL texts; ${repeats.toDouble / head.size}%.2f of the first ${head.size} " +
      "requests repeat an earlier text, later ones all do"
  }

  final class SqlReq(val pos: Int, val session: String, val sql: String, val format: String) extends Req {
    val kind = s"sql_$format"
    private val body = bytes(s"""{"sql":${jstr(sql)},"response":{"format":"$format"}}""")

    def send(http: Http): Raw = http.call("POST", s"/session/$session/query", body)

    def direct(d: Direct): Raw = {
      val n = d.parseJson(body)
      val (text, post) = d.t.span("serve.parse") { (n.get("sql").asText(), Api.parsePostProcessors(n)) }
      d.t.span("sqlcompat.rewrite") { graft.sqlcompat.SqlRewrite.rewrite(text) }
      val h = d.sessions.get(session).getOrElse(throw new IllegalStateException(s"no session $session"))
      val df = d.t.span("engine.sql") { Processors.applyAll(d.sessions.sql(h, text), post) }
      d.encode(df, format)
    }

    def check(r: Raw): Outcome = {
      if (!r.ok) return Outcome(ok = false, 0.0, 0, s"HTTP ${r.status}: ${r.text.take(200)}")
      val want = answers(sql)
      val got = Canon.decode(r.contentType, r.body, want.kinds).sorted
      if (got.size == want.size && Canon.digest(got) == want.digest) Outcome(ok = true, 1.0, got.size)
      else Outcome(ok = false, Canon.overlapAt10(want, got), got.size,
        s"rows ${got.size}/${want.size}, hash mismatch for: ${sql.take(120)}")
    }
  }
}
