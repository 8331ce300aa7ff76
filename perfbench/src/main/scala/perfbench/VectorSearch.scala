package perfbench

import graft.engine.DataSourceDef
import graft.pipeline.{AnnIndex, GraphAnn, GraphIndex}
import org.apache.spark.sql.functions.{col, transform}

import scala.jdk.CollectionConverters._

/** Vector search on one shared session over `embeddings` (2000 x 64-d).
  * Setup builds an IVF-PQ index and a kNN-graph index through the index
  * route, into the session's fresh spool directory. Clients send IVF
  * searches by corpus id and by explicit vector, both with exact rerank,
  * and graph searches for batches of eight corpus ids. The exact
  * top ten of every query is computed by brute force before setup.
  */
final class VectorSearch(ctx: Ctx) extends Workload(ctx) {
  val name = "vector_search"

  val Session = "pb-vec"
  val K = 10
  val Nprobe = 8
  val Rerank = 40
  val GraphBatch = 8
  val StreamSize = 2048
  override def warmup: Int = 1
  private val ivf = """{"name":"ivf","table":"embeddings","vecCol":"embedding","idCol":"vec_id",""" +
    """"numCells":16,"m":8,"ksub":16,"iters":3}"""
  private val graph = """{"name":"graph","type":"graph","table":"embeddings",""" +
    """"vecCol":"embedding","idCol":"vec_id","graphK":8,"buildRounds":2}"""

  private var corpus: Array[Array[Double]] = Array.empty
  private var norms: Array[Double] = Array.empty
  private var reqs: IndexedSeq[Req] = IndexedSeq.empty
  def stream: IndexedSeq[Req] = reqs

  /** Exact top-K ids by cosine, ties by id, optionally without `self`. */
  private def exact(q: Array[Double], self: Long): Set[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val score: Array[Double] = Array.tabulate(corpus.length) { i =>
      val v = corpus(i)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * q(d); d += 1 }
      dot / (norms(i) * qn)
    }
    // best K by (score desc, id asc): one pass keeping a sorted top list
    val top = Array.fill(K)(-1)
    def better(i: Int, j: Int) = j < 0 || score(i) > score(j) || (score(i) == score(j) && i < j)
    corpus.indices.foreach { i =>
      if (i.toLong != self && better(i, top(K - 1))) {
        var p = K - 1
        while (p > 0 && better(i, top(p - 1))) { top(p) = top(p - 1); p -= 1 }
        top(p) = i
      }
    }
    top.map(_.toLong).toSet
  }

  def prepare(): Unit = {
    corpus = ctx.spark.read.parquet(ctx.table("embeddings"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    norms = corpus.map(v => math.sqrt(v.map(x => x * x).sum))
    val rng = ctx.rng(3)
    val n = corpus.length
    val ids = Seq.fill(128)(rng.nextInt(n).toLong).distinct
    val vecs = Seq.fill(64) {
      val base = corpus(rng.nextInt(n))
      base.map(x => BigDecimal(x + 0.05 * rng.nextGaussian())
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val batches = Seq.fill(32)(rng.ints(0, n).distinct().limit(GraphBatch.toLong)
      .toArray.toSeq.map(_.toLong))
    val byId = ids.map(i => i -> exact(corpus(i.toInt), i)).toMap
    val byVec = vecs.map(v => exact(v, -1L))
    reqs = Workload.blocks(rng, StreamSize, Seq(0, 0, 0, 0, 0, 1, 1, 1, 2, 2)).zipWithIndex.map {
      case (0, pos) => val q = ids(rng.nextInt(ids.size)); new IvfIdReq(pos, q, byId(q))
      case (1, pos) => val i = rng.nextInt(vecs.size); new IvfVecReq(pos, vecs(i), byVec(i))
      case (_, pos) =>
        val b = batches(rng.nextInt(batches.size))
        new GraphReq(pos, b, b.map(q => q -> exact(corpus(q.toInt), q)).toMap)
    }
  }

  def setupHttp(http: Http): Unit = {
    http.must("POST", s"/session?id=$Session")
    http.must("POST", s"/session/$Session/datasource",
      s"""{"format":"parquet","name":"embeddings","location":${jstr(ctx.table("embeddings"))}}""")
    http.must("POST", s"/session/$Session/index", ivf)
    http.must("POST", s"/session/$Session/index", graph)
  }

  def teardownHttp(http: Http): Unit = http.must("DELETE", s"/session/$Session")

  def setupDirect(d: Direct): Unit = {
    val h = d.t.span("engine.session_create") { d.sessions.create(Some(Session), 3600L) }
    val path = ctx.table("embeddings")
    val df = d.t.span("ingest.read") { graft.ingest.Readers.parquet(h.spark, path) }
    d.t.span("engine.register") {
      d.sessions.registerTable(h, df, DataSourceDef("embeddings", "parquet", Some(path), None))
    }
    val emb = h.spark.table("embeddings")
    val dir = h.spoolDir.resolve("index")
    d.t.span("pipeline.ivf_build") {
      AnnIndex.openOrRebuildCachedBounded(s"$Session/ivf", dir.resolve("ivf").toString, s"$Session/", 32) {
        AnnIndex.buildIfAbsent(emb, "embedding", "vec_id", dir.resolve("ivf").toString, 16, 8, 16, 3)
      }
    }
    d.t.span("pipeline.graph_build") {
      GraphIndex.openOrRebuildCachedBounded(s"$Session/graph", dir.resolve("graph").toString,
        s"$Session/", 32) {
        GraphIndex.buildIfAbsent(emb, "embedding", "vec_id", dir.resolve("graph").toString, 8, 2)
      }
    }
  }

  def teardownDirect(d: Direct): Unit = d.t.span("engine.session_remove") { d.sessions.remove(Session) }

  override def describe: String =
    s"k=$K, nprobe=$Nprobe, rerank=$Rerank, graph batches of $GraphBatch ids; 50% IVF by id, " +
      "30% IVF by vector, 20% graph"

  /** Rows of a JSON search response as (query, neighbour) ids. */
  private def neighbours(r: Raw, queryCol: Option[String], idCol: String, single: Long): Seq[(Long, Long)] =
    Direct.mapper.readTree(r.body).elements().asScala.map { o =>
      (queryCol.map(o.get(_).asLong()).getOrElse(single), o.get(idCol).asLong())
    }.toSeq

  /** Each query must get K distinct corpus ids other than itself. A
    * single-query response has no query column; its key is the one in
    * `want` (-1 for a query by vector).
    */
  private def grade(r: Raw, want: Map[Long, Set[Long]], queryCol: Option[String], idCol: String): Outcome = {
    if (!r.ok) return Outcome(ok = false, 0.0, 0, s"HTTP ${r.status}: ${r.text.take(200)}")
    val rows = neighbours(r, queryCol, idCol, want.keys.head)
    val got = rows.groupBy(_._1).map { case (q, g) => q -> g.map(_._2) }
    val bad = want.keys.filter { q =>
      val ids = got.getOrElse(q, Nil)
      ids.size != K || ids.distinct.size != K || ids.exists(i => i < 0 || i >= corpus.length || i == q)
    }
    val recall = want.map { case (q, ids) => got.getOrElse(q, Nil).count(ids).toDouble / K }.sum / want.size
    if (bad.isEmpty && got.size == want.size) Outcome(ok = true, recall, rows.size)
    else Outcome(ok = false, recall, rows.size, s"queries without $K valid neighbours: ${bad.take(3).mkString(",")}")
  }

  private def withSession[T](d: Direct)(f: graft.engine.SessionHandle => T): T =
    f(d.sessions.get(Session).getOrElse(throw new IllegalStateException(s"no session $Session")))

  final class IvfIdReq(val pos: Int, val q: Long, val want: Set[Long]) extends Req {
    val kind = "ivf_id"
    private val body = bytes(s"""{"queryId":$q,"table":"embeddings","k":$K,"nprobe":$Nprobe,"rerank":$Rerank}""")
    def send(http: Http): Raw = http.call("POST", s"/session/$Session/index/ivf/search", body)
    def direct(d: Direct): Raw = withSession(d) { h =>
      val n = d.parseJson(body)
      val hd = AnnIndex.get(s"$Session/ivf").get
      AnnIndex.withReader(hd) {
        val df = d.t.span("pipeline.ivf_search") {
          AnnIndex.searchTopK(h.spark.table(n.get("table").asText()), hd, n.get("queryId").asLong(),
            n.get("k").asInt(), n.get("nprobe").asInt(), n.get("rerank").asInt())
        }
        d.encode(df, "json")
      }
    }
    def check(r: Raw): Outcome = grade(r, Map(q -> want), None, "vec_id")
  }

  final class IvfVecReq(val pos: Int, val v: Array[Double], val want: Set[Long]) extends Req {
    val kind = "ivf_vector"
    private val body = bytes(s"""{"vector":${v.mkString("[", ",", "]")},"table":"embeddings",""" +
      s""""k":$K,"nprobe":$Nprobe,"rerank":$Rerank}""")
    def send(http: Http): Raw = http.call("POST", s"/session/$Session/index/ivf/search", body)
    def direct(d: Direct): Raw = withSession(d) { h =>
      val n = d.parseJson(body)
      val q = d.t.span("serve.parse") { n.get("vector").elements().asScala.map(_.asDouble()).toArray }
      val hd = AnnIndex.get(s"$Session/ivf").get
      AnnIndex.withReader(hd) {
        val df = d.t.span("pipeline.ivf_search") {
          AnnIndex.searchTopKVec(h.spark, hd, q, n.get("k").asInt(), n.get("nprobe").asInt(),
            corpus = Some(h.spark.table(n.get("table").asText())), rerank = n.get("rerank").asInt())
        }
        d.encode(df, "json")
      }
    }
    def check(r: Raw): Outcome = grade(r, Map(-1L -> want), None, "vec_id")
  }

  final class GraphReq(val pos: Int, val qs: Seq[Long], val want: Map[Long, Set[Long]]) extends Req {
    val kind = "graph"
    private val body = bytes(s"""{"table":"embeddings","queryIds":${qs.mkString("[", ",", "]")},"k":$K}""")
    def send(http: Http): Raw = http.call("POST", s"/session/$Session/index/graph/search", body)
    def direct(d: Direct): Raw = withSession(d) { h =>
      val n = d.parseJson(body)
      val ids = d.t.span("serve.parse") { n.get("queryIds").elements().asScala.map(_.asLong()).toSeq }
      val hd = GraphIndex.get(s"$Session/graph").get
      val k = n.get("k").asInt()
      GraphIndex.withReader(hd) {
        val df = d.t.span("pipeline.graph_search") {
          GraphAnn.graphSearchTopK(h.spark.table(n.get("table").asText()), hd.vecCol, hd.idCol, hd,
            ids, k, 2 * k, 3)
        }
        d.encode(df, "json")
      }
    }
    def check(r: Raw): Outcome = grade(r, want, Some("query_id"), "neighbor_id")
  }
}
