package graft

import graft.serve.GraftServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** End-to-end REST tests: the full reference flow of SURVEY §3.1/3.2
  * driven through real HTTP.
  */
class HttpServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val server = { val s = new GraftServer(SparkFixture.spark); s.start(); s }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = server.stop()

  private def post(path: String, body: String, contentType: String = "application/json") =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(path: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  test("a stopped server leaves no graft-http thread alive") {
    def httpThreads: Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.toSet
        .filter(t => t.isAlive && t.getName.startsWith("graft-http-"))
    val earlier = httpThreads
    val own = new GraftServer(SparkFixture.spark)
    own.start()
    val ownBase = s"http://127.0.0.1:${own.boundPort}"
    (1 to 4).foreach { _ =>
      assert(client.send(HttpRequest.newBuilder(URI.create(s"$ownBase/healthz"))
        .GET().build(), HttpResponse.BodyHandlers.ofString()).statusCode() == 204)
    }
    val ours = httpThreads -- earlier
    assert(ours.nonEmpty, "handler threads must be named graft-http-N")
    own.stop()
    // a retired worker finishes exiting just after the pool terminates
    ours.foreach(_.join(5000))
    val alive = ours.filter(_.isAlive)
    assert(alive.isEmpty, s"stop() left ${alive.map(_.getName)} running")
  }

  test("healthz is 204") {
    assert(get("/healthz").statusCode() == 204)
  }

  test("sysinfo reports engine") {
    val r = get("/sysinfo")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"graft\""))
  }

  test("one-shot /dataframe/query: parquet ingest + SQL + json response") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"lineitem",
          "location":"${SparkFixture.sfDir}/lineitem.parquet"}],
          "query":{"sql":"SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    assert(r.headers().firstValue("Content-Type").get().startsWith("application/json"))
    assert(r.body().startsWith("""[{"l_returnflag":"""))
  }

  test("postProcessors: pivot-table reshapes the one-shot query result") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"lineitem",
          "location":"${SparkFixture.sfDir}/lineitem.parquet"}],
          "query":{"sql":"SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem",
            "postProcessors":[{"module":"pivot-table",
              "pluginOptions":{"values":"l_quantity","index":"l_returnflag","columns":"l_linestatus"}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    // pivoted shape: one row per returnflag, one column per linestatus
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    assert(rows.size() == 3, r.body())
    val first = rows.get(0)
    assert(first.has("l_returnflag") && (first.has("F") || first.has("O")), r.body())
  }

  test("ANN index CRUD: build once, search many, files die with the session") {
    val sid = "idx-crud"
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try {
      post(s"/session/$sid/datasource", s"""{"format":"parquet","name":"embeddings",
        "location":"${SparkFixture.sfDir}/embeddings.parquet"}""")
      // build + register
      val b = post(s"/session/$sid/index",
        """{"name":"emb_idx","table":"embeddings","vecCol":"embedding",
           "idCol":"vec_id","numCells":4,"m":8,"ksub":8}""")
      assert(b.statusCode() == 200, b.body())
      assert(b.body().contains("\"numCells\":4") && b.body().contains("\"dim\":64"),
        b.body())
      // list + detail
      assert(get(s"/session/$sid/index").body() == """["emb_idx"]""")
      assert(get(s"/session/$sid/index/emb_idx").statusCode() == 200)
      // search by corpus id (rerank path reads the corpus table)
      val s1 = post(s"/session/$sid/index/emb_idx/search",
        """{"queryId":0,"k":5,"nprobe":2,"rerank":10,"table":"embeddings"}""")
      assert(s1.statusCode() == 200, s1.body())
      val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s1.body())
      assert(rows.size() == 5, s1.body())
      assert(rows.get(0).has("vec_id") && rows.get(0).has("cos_sim"), s1.body())
      // search by explicit vector — no corpus table needed
      val vec = (0 until 64).map(_ => "0.5").mkString("[", ",", "]")
      val s2 = post(s"/session/$sid/index/emb_idx/search",
        s"""{"vector":$vec,"k":3,"nprobe":4}""")
      assert(s2.statusCode() == 200, s2.body())
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s2.body()).size() == 3, s2.body())
      // re-POST with changed params must rebuild, not serve the old
      // definition with a 200
      val b2 = post(s"/session/$sid/index",
        """{"name":"emb_idx","table":"embeddings","vecCol":"embedding",
           "idCol":"vec_id","numCells":2,"m":4,"ksub":8}""")
      assert(b2.statusCode() == 200, b2.body())
      assert(b2.body().contains("\"m\":4") && b2.body().contains("\"numCells\":2"),
        s"changed params must rebuild: ${b2.body()}")
      // wrong name 404s; delete drops the handle AND the persisted
      // files — a session cycling indexes must not accumulate dead
      // directories in its spool until teardown
      assert(get(s"/session/$sid/index/nope").statusCode() == 404)
      val dirBeforeDelete = graft.pipeline.AnnIndex.get(s"$sid/emb_idx").get.dir
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dirBeforeDelete)))
      assert(delete(s"/session/$sid/index/emb_idx").statusCode() == 200)
      assert(get(s"/session/$sid/index").body() == "[]")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dirBeforeDelete)),
        s"DELETE must remove the index dir: $dirBeforeDelete")
      // build-after-delete rebuilds from scratch
      val b3 = post(s"/session/$sid/index",
        """{"name":"emb_idx","table":"embeddings","vecCol":"embedding",
           "idCol":"vec_id","numCells":4,"m":8,"ksub":8}""")
      assert(b3.statusCode() == 200, b3.body())
      assert(b3.body().contains("\"numCells\":4"), b3.body())
    } finally {
      delete(s"/session/$sid"): Unit
      // registry fully clean after session teardown
      assert(!graft.pipeline.AnnIndex.list().exists(_.startsWith(sid + "/")))
    }
  }

  test("ANN index route: seeded build flavor, and toggling it rebuilds") {
    val sid = "idx-seeded"
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try {
      post(s"/session/$sid/datasource", s"""{"format":"parquet","name":"embeddings",
        "location":"${SparkFixture.sfDir}/embeddings.parquet"}""")
      val b = post(s"/session/$sid/index",
        """{"name":"emb_sidx","table":"embeddings","vecCol":"embedding",
           "idCol":"vec_id","numCells":8,"m":8,"ksub":16,"seeded":true}""")
      assert(b.statusCode() == 200, b.body())
      // seeded quantizers: centroids are the first numCells vectors by
      // id, so the handle must report exactly the requested cell count
      // (Lloyd can drop empty cells; the seeded build cannot)
      assert(b.body().contains("\"numCells\":8"), b.body())
      val s1 = post(s"/session/$sid/index/emb_sidx/search",
        """{"queryId":0,"k":5,"nprobe":3,"table":"embeddings"}""")
      assert(s1.statusCode() == 200, s1.body())
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s1.body()).size() == 5, s1.body())
      // toggling the flavor off must rebuild (trained), not serve the
      // seeded index: the dir encodes the flavor so the handle changes
      val before = graft.pipeline.AnnIndex.get(s"$sid/emb_sidx").get.dir
      val b2 = post(s"/session/$sid/index",
        """{"name":"emb_sidx","table":"embeddings","vecCol":"embedding",
           "idCol":"vec_id","numCells":8,"m":8,"ksub":16}""")
      assert(b2.statusCode() == 200, b2.body())
      val after = graft.pipeline.AnnIndex.get(s"$sid/emb_sidx").get.dir
      assert(before.contains("/seeded-") && after.contains("/trained-"),
        s"flavor toggle must rebuild into a new dir: $before -> $after")
      // the superseded seeded definition's files were deleted by the
      // rebuild (param churn must not accumulate dead dirs)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(before)),
        s"rebuild must delete the superseded dir: $before")
    } finally {
      delete(s"/session/$sid"): Unit
      assert(!graft.pipeline.AnnIndex.list().exists(_.startsWith(sid + "/")))
    }
  }

  test("graph index door: build, search, append/repair (write-back + swap), delete") {
    val sid = "idx-graph"
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try {
      post(s"/session/$sid/datasource", s"""{"format":"parquet","name":"embeddings",
        "location":"${SparkFixture.sfDir}/embeddings.parquet"}""")
      // the door serves corpus/batch splits as session tables
      val sp = post(s"/session/$sid/query",
        """{"sql":"SELECT 4 * (MAX(vec_id) + 1) / 5 AS t FROM embeddings"}""")
      assert(sp.statusCode() == 200, sp.body())
      val thr = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(sp.body()).get(0).get("t").asLong()
      assert(post(s"/session/$sid/datasource",
        s"""{"format":"parquet","name":"emb_c80","data":null,
             "location":"${SparkFixture.sfDir}/embeddings.parquet"}""")
        .statusCode() == 200)
      // corpus/batch views via SQL-defined tables
      assert(post(s"/session/$sid/query",
        s"""{"sql":"CREATE OR REPLACE TEMP VIEW corpus80 AS SELECT * FROM embeddings WHERE vec_id < $thr"}""")
        .statusCode() == 200)
      assert(post(s"/session/$sid/query",
        s"""{"sql":"CREATE OR REPLACE TEMP VIEW batch20 AS SELECT * FROM embeddings WHERE vec_id >= $thr"}""")
        .statusCode() == 200)
      // build a graph index over the 80% corpus
      val b = post(s"/session/$sid/index",
        """{"name":"g_idx","table":"corpus80","type":"graph","vecCol":"embedding",
           "idCol":"vec_id","graphK":5,"buildRounds":1}""")
      assert(b.statusCode() == 200, b.body())
      assert(b.body().contains("\"type\":\"graph\"") &&
        b.body().contains("\"graphK\":5"), b.body())
      assert(get(s"/session/$sid/index").body() == """["g_idx"]""")
      val d = get(s"/session/$sid/index/g_idx")
      assert(d.statusCode() == 200 && d.body().contains("\"type\":\"graph\""))
      // lean top-k search (no audit legs)
      val s1 = post(s"/session/$sid/index/g_idx/search",
        """{"table":"corpus80","queryIds":[1,2,3],"k":4,"beamWidth":8,"hops":2}""")
      assert(s1.statusCode() == 200, s1.body())
      val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s1.body())
      assert(rows.size() == 12, s1.body())
      assert(rows.get(0).has("query_id") && rows.get(0).has("neighbor_id") &&
        rows.get(0).has("cosine") && rows.get(0).has("rank"), s1.body())
      // a cross-family name collision is refused, not shadowed
      val clash = post(s"/session/$sid/index",
        """{"name":"g_idx","table":"embeddings","vecCol":"embedding",
           "idCol":"vec_id","numCells":4,"m":8,"ksub":8}""")
      assert(clash.statusCode() == 409, clash.body())
      // append: write-back into a NEW version + atomic swap; the
      // superseded version's files are condemned and reclaimed
      val dirBefore = graft.pipeline.GraphIndex.get(s"$sid/g_idx").get.dir
      val a = post(s"/session/$sid/index/g_idx/append",
        """{"table":"batch20","corpusTable":"corpus80","beamWidth":8,"hops":2}""")
      assert(a.statusCode() == 200, a.body())
      val an = new com.fasterxml.jackson.databind.ObjectMapper().readTree(a.body())
      assert(an.get("n").asLong() > thr, a.body())
      val dirAfter = graft.pipeline.GraphIndex.get(s"$sid/g_idx").get.dir
      assert(dirAfter != dirBefore, "append must swap to a NEW version dir")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (java.nio.file.Files.exists(java.nio.file.Paths.get(dirBefore)) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dirBefore)),
        s"superseded version must be reclaimed: $dirBefore")
      // the new version serves corpus ∪ batch — including a batch id
      val s2 = post(s"/session/$sid/index/g_idx/search",
        s"""{"table":"embeddings","queryIds":[1,$thr],"k":3,"beamWidth":6,"hops":2}""")
      assert(s2.statusCode() == 200, s2.body())
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s2.body()).size() == 6, s2.body())
      // repair: tombstone a slice, write-back over the LIVE corpus,
      // swap — the new version serves the compacted id space and the
      // handle's n drops by the deletion
      assert(post(s"/session/$sid/query",
        s"""{"sql":"CREATE OR REPLACE TEMP VIEW dead AS SELECT vec_id FROM embeddings WHERE vec_id % 11 = 7"}""")
        .statusCode() == 200)
      assert(post(s"/session/$sid/query",
        s"""{"sql":"CREATE OR REPLACE TEMP VIEW live AS SELECT * FROM embeddings WHERE vec_id % 11 <> 7"}""")
        .statusCode() == 200)
      val nBeforeRepair = an.get("n").asLong()
      val rp = post(s"/session/$sid/index/g_idx/repair",
        """{"deletedTable":"dead","corpusTable":"embeddings"}""")
      assert(rp.statusCode() == 200, rp.body())
      val rn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rp.body())
      assert(rn.get("n").asLong() < nBeforeRepair, rp.body())
      // the repaired version serves the live (non-dense) corpus
      val s3 = post(s"/session/$sid/index/g_idx/search",
        """{"table":"live","queryIds":[1,2],"k":3,"beamWidth":6,"hops":2}""")
      assert(s3.statusCode() == 200, s3.body())
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s3.body()).size() == 6, s3.body())
      // and rejects the pre-delete corpus loudly (staleness guard →
      // the door's 500-with-message envelope is fine here; what
      // matters is NOT serving silently)
      val s4 = post(s"/session/$sid/index/g_idx/search",
        """{"table":"embeddings","queryIds":[1],"k":2,"beamWidth":4,"hops":1}""")
      assert(s4.statusCode() != 200, s4.body())
      // repair on an ivf index is a 400, not a silent no-op
      val bivf = post(s"/session/$sid/index",
        """{"name":"ivf_r","table":"embeddings","vecCol":"embedding",
           "idCol":"vec_id","numCells":4,"m":8,"ksub":8}""")
      assert(bivf.statusCode() == 200, bivf.body())
      assert(post(s"/session/$sid/index/ivf_r/repair",
        """{"deletedTable":"dead","corpusTable":"embeddings"}""")
        .statusCode() == 400)
      assert(delete(s"/session/$sid/index/ivf_r").statusCode() == 200)
      // DELETE removes the handle and the persisted files
      val dirFinal = graft.pipeline.GraphIndex.get(s"$sid/g_idx").get.dir
      assert(delete(s"/session/$sid/index/g_idx").statusCode() == 200)
      assert(get(s"/session/$sid/index").body() == "[]")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dirFinal)),
        s"DELETE must remove the graph index dir: $dirFinal")
      assert(get(s"/session/$sid/index/g_idx").statusCode() == 404)
    } finally {
      delete(s"/session/$sid"): Unit
      assert(!graft.pipeline.GraphIndex.list().exists(_.startsWith(sid + "/")))
    }
  }

  test("postProcessors: chain applies in order on the session query route") {
    val sid = "pp-chain"
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try {
      post(s"/session/$sid/datasource", s"""{"format":"parquet","name":"nation",
        "location":"${SparkFixture.sfDir}/nation.parquet"}""")
      val r = post(s"/session/$sid/query",
        """{"sql":"SELECT n_regionkey, n_nationkey, n_name FROM nation",
           "postProcessors":[
             {"module":"pivot-table","pluginOptions":{
               "values":"n_nationkey","index":"n_regionkey","columns":"n_regionkey"}},
             {"module":"select-columns","pluginOptions":{"columns":["n_regionkey"]}}]}""")
      assert(r.statusCode() == 200, r.body())
      val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      assert(rows.size() == 5, r.body())
      // select-columns ran AFTER pivot: only the index column remains
      assert(rows.get(0).size() == 1, r.body())
    } finally { delete(s"/session/$sid"): Unit }
  }

  test("postProcessors: hash-split tags the result with the batch operator's split") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20",
            "postProcessors":[{"module":"hash-split",
              "pluginOptions":{"idColumn":"doc_id",
                "splits":[{"name":"train","fraction":0.5},
                          {"name":"holdout","fraction":0.25},
                          {"name":"test","fraction":0.25}]}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    assert(rows.size() == 20, r.body())
    // assignments must equal the library operator's for the same ids
    val expected = graft.pipeline.Sampling.hashSplit(
        SparkFixture.spark.range(20).withColumnRenamed("id", "doc_id"),
        "doc_id", Seq("train" -> 0.5, "holdout" -> 0.25, "test" -> 0.25))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    (0 until rows.size()).foreach { i =>
      val n = rows.get(i)
      assert(n.get("split").asText() == expected(n.get("doc_id").asLong()),
        s"row $i: ${n.toString}")
    }
  }

  test("postProcessors: drop-common-chunks dedups text through the REST chain") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 30",
            "postProcessors":[{"module":"drop-common-chunks",
              "pluginOptions":{"textColumn":"text","idColumn":"doc_id",
                "chunkTokens":8,"maxDf":2}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    assert(rows.size() == 30, r.body())
    // results must equal the library operator's on the same slice
    val expected = graft.pipeline.Dedup.dropCommonChunks(
        Tables.load(SparkFixture.spark, SparkFixture.sfDir, "documents")
          .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(30),
        "text", "doc_id", chunkTokens = 8, maxDf = 2L)
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getLong(3))))
      .toMap
    (0 until rows.size()).foreach { i =>
      val n = rows.get(i)
      val (txt, nc, nk) = expected(n.get("id").asLong())
      assert(n.get("text_kept").asText() == txt && n.get("n_chunks").asLong() == nc &&
        n.get("n_kept").asLong() == nk, s"row $i: ${n.toString}")
    }
  }

  test("connector registry: custom scheme datasource ingests via the plugin") {
    // a "gen://" connector mirroring the reference's scheme-dispatched
    // datasource plugins: authority = generator kind, row count from
    // pluginOptions — returns a lazy plan, not buffered bytes
    graft.serve.Connectors.register("gen", (spark, uri, opts, _) => {
      assert(uri.getAuthority == "ints")
      val n = opts.get("rows").map(_.asLong()).getOrElse(3L)
      spark.range(n).toDF("v")
    })
    val sid = "conn-test"
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try {
      val r = post(s"/session/$sid/datasource",
        """{"format":"arrow","name":"gen_t","location":"gen://ints/any",
           "pluginOptions":{"rows":4}}""")
      assert(r.statusCode() == 200, r.body())
      val q = post(s"/session/$sid/query",
        """{"sql":"SELECT count(*) AS n, sum(v) AS s FROM gen_t"}""")
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("\"n\":4") && q.body().contains("\"s\":6"), q.body())
      // refresh must re-ingest with the ORIGINAL pluginOptions
      // (rows=4), not reconstructed defaults (rows=3)
      assert(post(s"/session/$sid/datasource/gen_t/refresh", "").statusCode() == 200)
      val q2 = post(s"/session/$sid/query",
        """{"sql":"SELECT count(*) AS n FROM gen_t"}""")
      assert(q2.body().contains("\"n\":4"), q2.body())
    } finally { delete(s"/session/$sid"): Unit }
  }

  test("refresh succeeds for a source registered with overwrite=false") {
    val sid = "refresh-nooverwrite"
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try {
      val r = post(s"/session/$sid/datasource",
        s"""{"format":"parquet","name":"region2",
            "location":"${SparkFixture.sfDir}/region.parquet",
            "options":{"overwrite":false}}""")
      assert(r.statusCode() == 200, r.body())
      // refresh replaces the table by definition — the original
      // overwrite=false must not veto it
      val rf = post(s"/session/$sid/datasource/region2/refresh", "")
      assert(rf.statusCode() == 200, rf.body())
      val q = post(s"/session/$sid/query", """{"sql":"SELECT count(*) AS n FROM region2"}""")
      assert(q.body().contains("\"n\":5"), q.body())
    } finally { delete(s"/session/$sid"): Unit }
  }

  test("CREATE EXTERNAL TABLE over the REST query route lands in the datasource list") {
    val sid = "ext-ddl"
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try {
      val ddl = post(s"/session/$sid/query",
        s"""{"sql":"CREATE EXTERNAL TABLE ext_nation STORED AS PARQUET LOCATION '${SparkFixture.sfDir}/nation.parquet'"}""")
      assert(ddl.statusCode() == 200, ddl.body())
      val q = post(s"/session/$sid/query",
        """{"sql":"SELECT count(*) AS n FROM ext_nation"}""")
      assert(q.body().contains("\"n\":25"), q.body())
      // the DDL-registered table is a first-class datasource record
      val ls = get(s"/session/$sid/datasource")
      assert(ls.body().contains("ext_nation"), ls.body())
    } finally { delete(s"/session/$sid"): Unit }
  }

  test("connector registry: built-in schemes cannot be shadowed") {
    intercept[IllegalArgumentException] {
      graft.serve.Connectors.register("file", (s, _, _, _) => s.range(1).toDF())
    }
  }

  test("postProcessors: budget-select fills the token budget through the REST chain") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 40",
            "postProcessors":[{"module":"budget-select",
              "pluginOptions":{"textColumn":"text","idColumn":"doc_id",
                "budget":500}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    val expected = graft.pipeline.Sampling.tokenBudgetSelect(
        Tables.load(SparkFixture.spark, SparkFixture.sfDir, "documents")
          .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(40),
        "text", "doc_id", budget = 500L)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(rows.size() == expected.size, r.body())
    (0 until rows.size()).foreach { i =>
      val n = rows.get(i)
      assert(expected(n.get("doc_id").asLong()) == n.get("cum_before").asLong(),
        s"row $i: ${n.toString}")
    }
  }

  test("postProcessors: budget-select accepts billion-scale budgets (Long, not Int)") {
    // Jackson asInt() used to truncate 5e9 silently; budgets in the
    // billions are the normal use case (ADVICE r10)
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20",
            "postProcessors":[{"module":"budget-select",
              "pluginOptions":{"textColumn":"text","idColumn":"doc_id",
                "budget":5000000000}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    // a budget beyond the corpus's total tokens selects EVERY row —
    // an int truncation (5e9 -> 705032704) would too, so also check
    // the fractional-budget rejection below pins the parse path
    assert(rows.size() == 20, r.body())
    val bad = post("/dataframe/query", body.replace("5000000000", "12.5"))
    assert(bad.statusCode() != 200,
      s"fractional budget must be rejected: ${bad.body()}")
  }

  test("postProcessors: mlm-mask fingerprints through the REST chain") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10",
            "postProcessors":[{"module":"mlm-mask",
              "pluginOptions":{"textColumn":"text","idColumn":"doc_id"}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    assert(rows.size() == 10, r.body())
    val expected = graft.pipeline.TextAnalysis.mlmMask(
        Tables.load(SparkFixture.spark, SparkFixture.sfDir, "documents")
          .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(10),
        "text", "doc_id")
      .collect().map(x => x.getLong(0) -> ((x.getLong(2), x.getString(4), x.getString(5))))
      .toMap
    (0 until rows.size()).foreach { i =>
      val n = rows.get(i)
      val (nm, mmd5, tmd5) = expected(n.get("doc_id").asLong())
      assert(n.get("n_masked").asLong() == nm &&
        n.get("masked_md5").asText() == mmd5 &&
        n.get("targets_md5").asText() == tmd5, s"row $i: ${n.toString}")
    }
  }

  test("postProcessors: perplexity-buckets table through the REST chain") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 60",
            "postProcessors":[{"module":"perplexity-buckets",
              "pluginOptions":{"textColumn":"text","idColumn":"doc_id",
                "buckets":5}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    assert(rows.size() == 5, r.body())
    val expected = graft.pipeline.TextAnalysis.perplexityBuckets(
        Tables.load(SparkFixture.spark, SparkFixture.sfDir, "documents")
          .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(60),
        "text", "doc_id", buckets = 5)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2))))
      .toMap
    (0 until rows.size()).foreach { i =>
      val n = rows.get(i)
      val (nd, nb) = expected(n.get("bucket").asLong())
      assert(n.get("n_docs").asLong() == nd &&
        n.get("n_bigrams").asLong() == nb, s"row $i: ${n.toString}")
    }
  }

  test("postProcessors: percentile-gate report through the REST chain") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id, text, source FROM documents ORDER BY doc_id LIMIT 80",
            "postProcessors":[{"module":"percentile-gate",
              "pluginOptions":{"textColumn":"text","idColumn":"doc_id",
                "sourceColumn":"source","topFrac":0.25,"rawThreshold":0.5}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    val expected = graft.pipeline.TextAnalysis.percentileGateBySource(
        Tables.load(SparkFixture.spark, SparkFixture.sfDir, "documents")
          .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(80),
        "text", "doc_id", "source", topFrac = 0.25, rawThreshold = 0.5)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(rows.size() == expected.size, r.body())
    (0 until rows.size()).foreach { i =>
      val n = rows.get(i)
      val (nd, nraw, npct) = expected(n.get("source").asText())
      assert(n.get("n_docs").asLong() == nd &&
        n.get("n_admit_raw").asLong() == nraw &&
        n.get("n_admit_pct").asLong() == npct, s"row $i: ${n.toString}")
    }
  }

  test("postProcessors: fuzzy-decontaminate drops benchmark near-matches") {
    // benchmark: two texts copied verbatim from the corpus + one novel
    val spark = SparkFixture.spark
    val docs = Tables.load(spark, SparkFixture.sfDir, "documents")
      .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(30)
    val picked = docs.collect().take(2).map(_.getString(1))
    val benchDir = java.nio.file.Files
      .createTempDirectory("graft_http_bench").toString
    import spark.implicits._
    Seq((9001L, picked(0)), (9002L, picked(1)),
      (9003L, "utterly novel benchmark content nothing shares"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$benchDir/bench.parquet")
    try {
      val body =
        s"""{"dataSources":[
            {"format":"parquet","name":"documents",
             "location":"${SparkFixture.sfDir}/documents.parquet"},
            {"format":"parquet","name":"bench",
             "location":"$benchDir/bench.parquet"}],
            "query":{"sql":"SELECT doc_id, text, source FROM documents ORDER BY doc_id LIMIT 30",
              "postProcessors":[{"module":"fuzzy-decontaminate",
                "pluginOptions":{"textColumn":"text","idColumn":"doc_id",
                  "sourceColumn":"source","benchmarkTable":"bench","tau":0.5}}]}}"""
      val r = post("/dataframe/query", body)
      assert(r.statusCode() == 200, r.body())
      val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      val kept = (0 until rows.size())
        .map(i => rows.get(i).get("doc_id").asLong()).toSet
      val bench = spark.read.parquet(s"$benchDir/bench.parquet")
      val flagged = graft.pipeline.Decontaminate.fuzzyContamination(
          docs, bench, "text", "doc_id", "source", tau = 0.5)
        .collect().map(_.getLong(0)).toSet
      assert(flagged.nonEmpty, "the planted copies must flag")
      val expected = docs.collect().map(_.getLong(0)).toSet -- flagged
      assert(kept == expected, s"kept $kept vs expected $expected")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(benchDir))
  }

  test("postProcessors: packing-waste curve through the REST chain") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"documents",
          "location":"${SparkFixture.sfDir}/documents.parquet"}],
          "query":{"sql":"SELECT doc_id, text, source FROM documents ORDER BY doc_id LIMIT 50",
            "postProcessors":[{"module":"packing-waste",
              "pluginOptions":{"textColumn":"text","idColumn":"doc_id",
                "groupColumn":"source","budgets":[64,256]}}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    assert(rows.size() == 2, r.body())
    val expected = graft.pipeline.Sampling.packingWasteCurve(
        Tables.load(SparkFixture.spark, SparkFixture.sfDir, "documents")
          .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(50),
        "text", "doc_id", "source", budgets = Seq(64L, 256L))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(3), x.getLong(5)))).toMap
    (0 until rows.size()).foreach { i =>
      val n = rows.get(i)
      val (np, pad, st) = expected(n.get("budget").asLong())
      assert(n.get("n_packs").asLong() == np &&
        n.get("n_padding").asLong() == pad &&
        n.get("n_straddled").asLong() == st, s"row $i: ${n.toString}")
    }
  }

  test("postProcessors: unknown module is a clean 4xx, not a 500") {
    val body =
      s"""{"dataSources":[{"format":"parquet","name":"region",
          "location":"${SparkFixture.sfDir}/region.parquet"}],
          "query":{"sql":"SELECT * FROM region",
            "postProcessors":[{"module":"no-such-plugin"}]}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 400, s"${r.statusCode()} ${r.body()}")
    assert(r.body().contains("no-such-plugin"), r.body())
  }

  test("one-shot with inline json data source and csv response") {
    val body =
      """{"dataSources":[{"format":"json","name":"people",
          "data":"[{\"name\":\"ann\",\"age\":31},{\"name\":\"bo\",\"age\":25}]"}],
          "query":{"sql":"SELECT name, age FROM people ORDER BY age"},
          "response":{"format":"csv"}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    assert(r.body() == "name,age\nbo,25\nann,31\n")
  }

  test("session lifecycle: create, query, datasource CRUD, delete") {
    assert(post("/session?id=it&keepAlive=600", "").statusCode() == 200)
    // register a datasource
    val ds = s"""{"format":"parquet","name":"nation","location":"${SparkFixture.sfDir}/nation.parquet"}"""
    assert(post("/session/it/datasource", ds).statusCode() == 200)
    // list + detail
    assert(get("/session/it/datasource").body().contains("\"nation\""))
    val detail = get("/session/it/datasource/nation")
    assert(detail.statusCode() == 200)
    assert(detail.body().contains("\"schema\""))
    // query (raw application/sql body)
    val q = post("/session/it/query", "SELECT count(*) AS n FROM nation", "application/sql")
    assert(q.statusCode() == 200, q.body())
    assert(q.body() == """[{"n":25}]""")
    // remove the table then the session
    assert(delete("/session/it/datasource/nation").statusCode() == 200)
    val gone = post("/session/it/query", """{"sql":"SELECT * FROM nation"}""")
    assert(gone.statusCode() == 500)
    assert(delete("/session/it").statusCode() == 200)
    assert(get("/session/it").statusCode() == 404)
  }

  test("GET /session/create creates a session with the requested TTL") {
    // the reference serves session create as GET with query params
    // (routes.rs:30, session.rs:50-66) — must not 404 into the by-id
    // lookup
    val r = get("/session/create?id=viaget&keepAlive=1234")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"viaget\""))
    val listed = get("/session").body()
    assert(listed.contains("\"viaget\""))
    assert(get("/session/viaget").body().contains("1234"))
    assert(delete("/session/viaget").statusCode() == 200)
  }

  test("merge processor column direction over HTTP") {
    val body =
      s"""{"dataSources":[
           {"format":"parquet","name":"orders","location":"${SparkFixture.sfDir}/orders.parquet"},
           {"format":"parquet","name":"customer","location":"${SparkFixture.sfDir}/customer.parquet"}],
          "processor":{"direction":"column","baseTable":"orders",
            "targets":[{"table":"customer","baseKeys":["o_custkey"],"targetKeys":["c_custkey"]}]},
          "query":{"sql":"SELECT count(*) AS n FROM orders WHERE c_name IS NOT NULL"}}"""
    val r = post("/dataframe/query", body)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().matches("""\[\{"n":\d+\}\]"""))
  }

  test("sessions are isolated: same table name, different data") {
    post("/session?id=iso1", "")
    post("/session?id=iso2", "")
    post("/session/iso1/datasource",
      """{"format":"json","name":"t","data":"[{\"v\":1}]"}""")
    post("/session/iso2/datasource",
      """{"format":"json","name":"t","data":"[{\"v\":2}]"}""")
    assert(post("/session/iso1/query", """{"sql":"SELECT v FROM t"}""").body() == """[{"v":1}]""")
    assert(post("/session/iso2/query", """{"sql":"SELECT v FROM t"}""").body() == """[{"v":2}]""")
    delete("/session/iso1"); delete("/session/iso2")
  }

  test("arrow response format negotiated via Accept header") {
    post("/session?id=arrow", "")
    post("/session/arrow/datasource",
      """{"format":"json","name":"t","data":"[{\"v\":1},{\"v\":2}]"}""")
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base/session/arrow/query"))
      .header("Content-Type", "application/sql")
      .header("Accept", "application/vnd.apache.arrow.stream")
      .POST(HttpRequest.BodyPublishers.ofString("SELECT v FROM t ORDER BY v")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/vnd.apache.arrow.stream")
    // ARROW1 magic is only in the file format; stream format starts with
    // a 0xFFFFFFFF continuation marker in modern IPC
    assert(r.body().length > 8)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(r.body()), alloc)
    try {
      var n = 0L
      while (rd.loadNextBatch()) n += rd.getVectorSchemaRoot.getRowCount
      assert(n == 2)
    } finally { rd.close(); alloc.close() }
    delete("/session/arrow")
  }

  test("EXPLAIN and SHOW TABLES statements work through the session route") {
    post("/session?id=meta", "")
    post("/session/meta/datasource",
      s"""{"format":"parquet","name":"region","location":"${SparkFixture.sfDir}/region.parquet"}""")
    val sh = post("/session/meta/query", "SHOW TABLES", "application/sql")
    assert(sh.statusCode() == 200, sh.body())
    assert(sh.body().contains("\"region\""))
    val ex = post("/session/meta/query", "EXPLAIN SELECT count(*) FROM region", "application/sql")
    assert(ex.statusCode() == 200)
    assert(ex.body().contains("Physical Plan") || ex.body().contains("Aggregate"))
    delete("/session/meta")
  }

  test("datasource refresh re-ingests from the recorded definition") {
    post("/session?id=rf", "")
    post("/session/rf/datasource",
      s"""{"format":"parquet","name":"region","location":"${SparkFixture.sfDir}/region.parquet"}""")
    val r = post("/session/rf/datasource/region/refresh", "")
    assert(r.statusCode() == 200, r.body())
    assert(post("/session/rf/query", "SELECT count(*) AS n FROM region", "application/sql")
      .body() == """[{"n":5}]""")
    // the reference serves refresh as GET (routes.rs:38-41) — a
    // doc-following client's GET must work, not 404
    val g = get("/session/rf/datasource/region/refresh")
    assert(g.statusCode() == 200, g.body())
    // refresh of an unknown source is 404 on both methods
    assert(post("/session/rf/datasource/nope/refresh", "").statusCode() == 404)
    assert(get("/session/rf/datasource/nope/refresh").statusCode() == 404)
    delete("/session/rf")
  }

  test("standalone processor route: merges outside a query request, 204") {
    // reference routes.rs:42 + processor.rs:15-35: POST
    // /session/:id/processor with {"mergeProcessors":[...]} runs the
    // merges against the session's registered tables and returns 204
    val sid = "proc-standalone"
    post(s"/session?id=$sid", "")
    try {
      post(s"/session/$sid/datasource", s"""[
        {"format":"parquet","name":"orders","location":"${SparkFixture.sfDir}/orders.parquet"},
        {"format":"parquet","name":"customer","location":"${SparkFixture.sfDir}/customer.parquet"}]""")
      val r = post(s"/session/$sid/processor",
        """{"mergeProcessors":[{"direction":"column","baseTable":"orders",
             "targets":[{"table":"customer","baseKeys":["o_custkey"],
                         "targetKeys":["c_custkey"]}]}]}""")
      assert(r.statusCode() == 204, r.body())
      // the merge persisted into the session: a later query sees the
      // merged column
      val q = post(s"/session/$sid/query",
        "SELECT count(*) AS n FROM orders WHERE c_name IS NOT NULL",
        "application/sql")
      assert(q.statusCode() == 200, q.body())
      assert(q.body().matches("""\[\{"n":\d+\}\]"""), q.body())
      // ABSENT mergeProcessors field → the reference's validation
      // error; a PRESENT-but-empty array is Some(vec![]) in the
      // reference (processor.rs:23-31): zero merges execute and the
      // response is 204 — the two must not be conflated
      assert(post(s"/session/$sid/processor", "{}").statusCode() == 400)
      val empty = post(s"/session/$sid/processor",
        """{"mergeProcessors":[]}""")
      assert(empty.statusCode() == 204, empty.body())
      // unknown session → 404
      assert(post("/session/no-such/processor",
        """{"mergeProcessors":[]}""").statusCode() == 404)
    } finally delete(s"/session/$sid"): Unit
  }

  test("index route rejects path-escaping names instead of resolving them") {
    val sid = "idx-evil"
    post(s"/session?id=$sid", "")
    try {
      post(s"/session/$sid/datasource", s"""{"format":"parquet","name":"embeddings",
        "location":"${SparkFixture.sfDir}/embeddings.parquet"}""")
      // "../" in name or table must 400 at validation — never reach
      // Path.resolve where it would escape the session spool and
      // overwrite an attacker-chosen directory
      for (bad <- Seq("../escape", "..", "a/b", "/abs", "a.b")) {
        val rn = post(s"/session/$sid/index",
          s"""{"name":${ujson(bad)},"table":"embeddings","vecCol":"embedding","idCol":"vec_id"}""")
        assert(rn.statusCode() == 400, s"name=$bad: ${rn.body()}")
        val rt = post(s"/session/$sid/index",
          s"""{"name":"ok","table":${ujson(bad)},"vecCol":"embedding","idCol":"vec_id"}""")
        assert(rt.statusCode() == 400, s"table=$bad: ${rt.body()}")
      }
      // column identifiers feed the dir leaf: same discipline (plus
      // no '-', which would make the param leaf ambiguous)
      val rc = post(s"/session/$sid/index",
        """{"name":"ok","table":"embeddings","vecCol":"../x","idCol":"vec_id"}""")
      assert(rc.statusCode() == 400, rc.body())
      assert(get(s"/session/$sid/index").body() == "[]")
    } finally delete(s"/session/$sid"): Unit
  }

  private def ujson(s: String): String =
    com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString

  test("http(s) data-source location is fetched then ingested") {
    // loopback origin server serving a CSV document
    val origin = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    origin.createContext("/data.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      val bytes = "city,pop\nparis,2100000\nlyon,520000\n".getBytes
      ex.getResponseHeaders.set("Content-Type", "text/csv")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    origin.start()
    try {
      val body =
        s"""{"dataSources":[{"format":"csv","name":"cities",
            "location":"http://127.0.0.1:${origin.getAddress.getPort}/data.csv"}],
            "query":{"sql":"SELECT city FROM cities WHERE pop > 1000000"}}"""
      val r = post("/dataframe/query", body)
      assert(r.statusCode() == 200, r.body())
      assert(r.body() == """[{"city":"paris"}]""")
      // 404 origin → clean error
      val bad =
        s"""{"dataSources":[{"format":"csv","name":"x",
            "location":"http://127.0.0.1:${origin.getAddress.getPort}/nope.csv"}],
            "query":{"sql":"SELECT 1"}}"""
      assert(post("/dataframe/query", bad).statusCode() == 400)
    } finally origin.stop(0)
  }

  test("bad request returns 400 with error body") {
    val r = post("/dataframe/query", """{"dataSources":[{"format":"csv","name":"x"}]}""")
    assert(r.statusCode() == 400)
    assert(r.body().contains("error"))
  }

  test("unknown session is 404") {
    assert(post("/session/nope/query", """{"sql":"SELECT 1"}""").statusCode() == 404)
  }

  test("flight datasource without the gated build is a clear 400") {
    post("/session?id=fl", "")
    val r = post("/session/fl/datasource",
      """{"format":"flight","name":"remote","location":"flight://peer:50051/s1/nation"}""")
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("FLIGHT_BLOCKER"), r.body())
    delete("/session/fl")
  }

  test("datasource/save writes a registered table back to files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-save").toString
    post("/session?id=sv", "")
    post("/session/sv/datasource",
      s"""{"format":"parquet","name":"region","location":"${SparkFixture.sfDir}/region.parquet"}""")
    val r = post("/session/sv/datasource/save",
      s"""{"dataSources":[
           {"format":"csv","name":"region","location":"$dir/region_csv"},
           {"format":"json","name":"region","location":"$dir/region.json"}]}""")
    assert(r.statusCode() == 204, r.body())
    val csvFiles = new java.io.File(s"$dir/region_csv").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(csvFiles.length == 1, "single-file csv sink")
    val lines = java.nio.file.Files.readAllLines(csvFiles.head.toPath)
    assert(lines.size == 6, s"5 regions + header, got ${lines.size}")
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/region.json"))
    val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(arr.isArray && arr.size == 5, json.take(200))
    // unknown table → 400
    assert(post("/session/sv/datasource/save",
      s"""{"dataSources":[{"format":"csv","name":"nope","location":"$dir/x"}]}""")
      .statusCode() == 400)
    delete("/session/sv")
  }

  test("/metrics exposes Prometheus counters that move with traffic") {
    post("/session?id=mx", "")
    post("/session/mx/query", "SELECT 1 AS one", "application/sql")
    val r = get("/metrics")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/plain"))
    val body = r.body()
    assert(body.contains("# TYPE graft_http_requests_total counter"), body.take(200))
    assert(body.contains("""graft_http_requests_total{route="/session"}"""))
    assert(body.contains("graft_http_request_seconds_sum"))
    assert(body.contains("graft_sessions_created_total"))
    assert(body.contains("graft_jvm_heap_used_bytes"))
    // the session counter reflects the create above
    val created = body.linesIterator
      .find(_.startsWith("graft_sessions_created_total "))
      .map(_.split(' ')(1).toDouble).getOrElse(-1.0)
    assert(created >= 1.0, s"created=$created")
    delete("/session/mx")
  }
}
