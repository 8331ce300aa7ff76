package graft

import graft.serve.{GraftServer, ResponseEncoders, ResultCache}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.{CyclicBarrier, Executors, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** The session-query result cache over real HTTP: hits are byte-identical
  * to the cache-less answer and run no Spark job, freshness follows the
  * input files, and volatile, in-memory and oversized results never
  * enter it. Tables are a few rows, so the suite stays cheap.
  */
class ResultCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = SparkFixture.spark
  private lazy val server = { val s = new GraftServer(spark); s.start(); s }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()
  private lazy val tmp = Files.createTempDirectory("graft-result-cache-")

  /** Five rows over the types the encoders render differently. */
  private lazy val typed: Path = {
    val dir = tmp.resolve("typed")
    spark.sql("""SELECT CAST(id AS BIGINT) AS id,
        concat('s,"', id, '"') AS s, id / 4.0D AS d,
        CAST(timestamp_micros(1700000000000000 + id * 1000001) AS TIMESTAMP) AS ts,
        date_add(DATE '2024-02-27', CAST(id AS INT)) AS dt,
        CAST(id * 1.25 AS DECIMAL(10, 2)) AS dec, sequence(0, CAST(id AS INT)) AS arr,
        IF(id % 2 = 0, NULL, 'odd') AS maybe
      FROM range(5)""").coalesce(1).write.parquet(dir.toString)
    dir
  }

  override def afterAll(): Unit = {
    server.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  private def post(path: String, body: String, contentType: String = "application/json") =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def query(sid: String, sql: String, format: String = "json"): Array[Byte] = {
    val r = post(s"/session/$sid/query",
      s"""{"sql":${jstr(sql)},"response":{"format":"$format"}}""")
    assert(r.statusCode() == 200, new String(r.body()))
    r.body()
  }

  private def jstr(s: String) = com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString

  private def register(sid: String, name: String, location: Path, format: String = "parquet"): Unit = {
    val r = post(s"/session/$sid/datasource",
      s"""{"format":"$format","name":"$name","location":${jstr(location.toString)}}""")
    assert(r.statusCode() == 200, new String(r.body()))
  }

  private def withSession(sid: String)(f: => Unit): Unit = {
    assert(post(s"/session?id=$sid", "").statusCode() == 200)
    try f
    finally client.send(HttpRequest.newBuilder(URI.create(s"$base/session/$sid")).DELETE().build(),
      HttpResponse.BodyHandlers.discarding()): Unit
  }

  private def cache = server.resultCache

  /** (hits, misses, bypasses) added by `f`. */
  private def outcomes(f: => Unit): (Long, Long, Long) = {
    def now = (cache.hits.sum(), cache.misses.sum(), cache.bypasses.sum())
    val (h, m, b) = now
    f
    val (h2, m2, b2) = now
    (h2 - h, m2 - m, b2 - b)
  }

  /** The answer with no cache in the way: the same SQL on a fresh
    * session over the same file, encoded by the response encoders.
    */
  private def cacheless(location: Path, sql: String, fmt: ResponseEncoders.Format): Array[Byte] = {
    val s = spark.newSession()
    graft.sqlcompat.CompatFunctions.registerAll(s)
    s.read.parquet(location.toString).createOrReplaceTempView("t")
    ResponseEncoders.encodeToBytes(s.sql(sql), fmt)
  }

  /** Spark jobs started while `f` runs, fenced by marker jobs so the
    * asynchronous listener bus has delivered every start in between.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p => Option(p.getProperty("graft.test.mark"))).getOrElse(""))
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty("graft.test.mark", m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.mark", null)
    }
    sc.addSparkListener(l)
    try {
      mark("start")
      f
      mark("end")
      val got = ArrayBuffer.empty[String]
      while (!got.contains("end")) got += Option(seen.poll(30, TimeUnit.SECONDS)).getOrElse(
        fail(s"marker job never reached the listener: $got"))
      got.dropWhile(_ != "start").drop(1).takeWhile(_ != "end").size
    } finally sc.removeSparkListener(l)
  }

  private val typedSql = "SELECT id, s, d, ts, dt, dec, arr, maybe FROM t WHERE id < 5 ORDER BY id"

  test("a hit is byte-identical to the miss and to the cache-less answer, in every format") {
    withSession("rc-fmt") {
      register("rc-fmt", "t", typed)
      Seq("json" -> ResponseEncoders.JsonFormat, "csv" -> ResponseEncoders.CsvFormat,
        "arrow" -> ResponseEncoders.ArrowFormat).zipWithIndex.foreach { case ((name, fmt), i) =>
        // a text per format, so each format's first request is its own miss
        val sql = typedSql.replace("id < 5", s"id < ${5 + i}")
        var miss, hit = Array.empty[Byte]
        assert(outcomes { miss = query("rc-fmt", sql, name) } == ((0L, 1L, 0L)), name)
        assert(outcomes { hit = query("rc-fmt", sql, name) } == ((1L, 0L, 0L)), name)
        assert(hit.sameElements(miss), s"$name hit differs from its miss")
        assert(miss.sameElements(cacheless(typed, sql, fmt)), s"$name miss differs from the cache-less encode")
      }
      // an entry admitted by a JSON miss serves the other formats too
      val sql = typedSql
      Seq("arrow" -> ResponseEncoders.ArrowFormat, "csv" -> ResponseEncoders.CsvFormat).foreach {
        case (name, fmt) =>
          var hit = Array.empty[Byte]
          assert(outcomes { hit = query("rc-fmt", sql, name) } == ((1L, 0L, 0L)), name)
          assert(hit.sameElements(cacheless(typed, sql, fmt)), s"$name hit of a json entry")
      }
    }
  }

  test("queries that differ only in their output names share an entry and answer with their own names") {
    withSession("rc-alias") {
      register("rc-alias", "t", typed)
      val a = "SELECT count(*) AS a, max(d) AS top FROM t"
      assert(outcomes(query("rc-alias", a)) == ((0L, 1L, 0L)))
      assert(new String(query("rc-alias", a)) == """[{"a":5,"top":1.0}]""")
      val b = "SELECT count(*) AS b, max(d) FROM t"
      Seq("json" -> ResponseEncoders.JsonFormat, "csv" -> ResponseEncoders.CsvFormat,
        "arrow" -> ResponseEncoders.ArrowFormat).foreach { case (name, fmt) =>
        var hit = Array.empty[Byte]
        assert(outcomes { hit = query("rc-alias", b, name) } == ((1L, 0L, 0L)), name)
        assert(hit.sameElements(cacheless(typed, b, fmt)), s"$name hit under other output names")
      }
      assert(new String(query("rc-alias", b)) == """[{"b":5,"max(d)":1.0}]""")
      assert(new String(query("rc-alias", b, "csv")) == "b,max(d)\n5,1.0\n")
    }
  }

  test("two sessions over the same files share one entry; the second session's hit runs no job") {
    withSession("rc-a") {
      withSession("rc-b") {
        register("rc-a", "t", typed)
        register("rc-b", "t", typed)
        val sql = "SELECT id, d FROM t WHERE id >= 2 ORDER BY id"
        val before = cache.size
        val first = query("rc-a", sql)
        assert(cache.size == before + 1)
        var second = Array.empty[Byte]
        val jobs = jobsDuring {
          assert(outcomes { second = query("rc-b", sql) } == ((1L, 0L, 0L)))
        }
        assert(jobs == 0, s"the hit ran $jobs Spark jobs")
        assert(second.sameElements(first))
        assert(cache.size == before + 1)
      }
    }
  }

  test("re-registering a datasource at a different location misses") {
    val moved = tmp.resolve("typed-moved")
    org.apache.commons.io.FileUtils.copyDirectory(typed.toFile, moved.toFile)
    withSession("rc-move") {
      register("rc-move", "t", typed)
      val sql = "SELECT id, s FROM t WHERE id <> 1 ORDER BY id"
      val first = query("rc-move", sql)
      assert(outcomes(query("rc-move", sql)) == ((1L, 0L, 0L)))
      register("rc-move", "t", moved)
      var again = Array.empty[Byte]
      assert(outcomes { again = query("rc-move", sql) } == ((0L, 1L, 0L)))
      assert(again.sameElements(first))
    }
  }

  test("a file whose mtime or length changed misses and returns the cache-less answer") {
    val csv = tmp.resolve("fresh.csv")
    Files.writeString(csv, "k,v\n1,10\n2,20\n")
    withSession("rc-fresh") {
      register("rc-fresh", "c", csv, "csv")
      val sql = "SELECT k, v FROM c ORDER BY k"
      val want = """[{"k":1,"v":10},{"k":2,"v":20}]"""
      assert(new String(query("rc-fresh", sql)) == want)
      assert(outcomes(query("rc-fresh", sql)) == ((1L, 0L, 0L)))
      // same bytes, later mtime
      assert(csv.toFile.setLastModified(csv.toFile.lastModified() + 10000))
      var body = ""
      assert(outcomes { body = new String(query("rc-fresh", sql)) } == ((0L, 1L, 0L)))
      assert(body == want)
      // new content, re-read through refresh (same location, same plan)
      Files.writeString(csv, "k,v\n1,10\n2,20\n3,30\n")
      assert(post("/session/rc-fresh/datasource/c/refresh", "").statusCode() == 200)
      assert(outcomes { body = new String(query("rc-fresh", sql)) } == ((0L, 1L, 0L)))
      assert(body == """[{"k":1,"v":10},{"k":2,"v":20},{"k":3,"v":30}]""")
    }
  }

  test("random(), now() and current_date are never served from the cache") {
    withSession("rc-volatile") {
      register("rc-volatile", "t", typed)
      Seq("SELECT id, random() AS r FROM t", "SELECT id, now() AS n FROM t",
        "SELECT id, current_date AS d FROM t").foreach { sql =>
        assert(outcomes { query("rc-volatile", sql); query("rc-volatile", sql) } == ((0L, 0L, 2L)), sql)
      }
    }
  }

  test("uploaded and in-memory tables bypass the cache; a merged table is a plan over its files") {
    withSession("rc-mem") {
      val arrow = {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.spark.sql.graftbridge.ArrowBridge.writeIpcStream(spark.range(3).toDF("id"), out)
        out.toByteArray
      }
      val b = "RCBOUNDARY"
      val body = new java.io.ByteArrayOutputStream()
      body.write((s"--$b\r\nContent-Disposition: form-data; name=\"up\"; filename=\"up.arrow\"\r\n" +
        "Content-Type: application/vnd.apache.arrow.stream\r\n\r\n").getBytes("UTF-8"))
      body.write(arrow)
      body.write(s"\r\n--$b--\r\n".getBytes("UTF-8"))
      val up = client.send(HttpRequest.newBuilder(URI.create(s"$base/session/rc-mem/datasource/upload"))
        .header("Content-Type", s"multipart/form-data; boundary=$b")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body.toByteArray)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(up.statusCode() == 200, up.body())
      val sql = "SELECT id FROM up ORDER BY id"
      assert(outcomes { query("rc-mem", sql); query("rc-mem", sql) } == ((0L, 0L, 2L)))
      assert(new String(query("rc-mem", sql)) == """[{"id":0},{"id":1},{"id":2}]""")

      register("rc-mem", "t", typed)
      query("rc-mem", "CREATE TABLE mem AS SELECT id, d FROM t WHERE id < 3")
      val mem = "SELECT id, d FROM mem ORDER BY id"
      assert(outcomes { query("rc-mem", mem); query("rc-mem", mem) } == ((0L, 0L, 2L)))
      assert(new String(query("rc-mem", mem)) == """[{"id":0,"d":0.0},{"id":1,"d":0.25},{"id":2,"d":0.5}]""")

      // the merge's cached copy does not survive replacing the base
      // view, so the merged table reads its files and may be cached
      val merged = tmp.resolve("typed-merge")
      org.apache.commons.io.FileUtils.copyDirectory(typed.toFile, merged.toFile)
      register("rc-mem", "m", merged)
      register("rc-mem", "m2", merged)
      val r = post("/session/rc-mem/processor",
        """{"mergeProcessors":[{"direction":"row","baseTable":"m","targetTables":["m2"]}]}""")
      assert(r.statusCode() == 204, new String(r.body()))
      val count = "SELECT count(*) AS n FROM m"
      assert(outcomes { query("rc-mem", count); query("rc-mem", count) } == ((1L, 1L, 0L)))
      assert(new String(query("rc-mem", count)) == """[{"n":10}]""")
    }
  }

  test("a result over the per-entry cap streams whole and is not admitted") {
    withSession("rc-big") {
      register("rc-big", "t", typed)
      val pad = (ResultCache.MaxEntryBytes + 1000).toInt
      val sql = s"SELECT id, repeat('x', $pad) AS pad FROM t WHERE id = 1"
      val before = cache.size
      Seq(1, 2).foreach { _ =>
        var body = ""
        assert(outcomes { body = new String(query("rc-big", sql)) } == ((0L, 1L, 0L)))
        assert(body == s"""[{"id":1,"pad":"${"x" * pad}"}]""")
        assert(cache.size == before)
      }
    }
  }

  test("a stream that fails mid-way is not admitted") {
    withSession("rc-fail") {
      register("rc-fail", "t", typed)
      // ANSI integer division by zero on the id = 3 row, after the
      // response headers are out
      val sql = "SELECT id, 10 div (id - 3) AS q FROM t ORDER BY id"
      val before = cache.size
      Seq(1, 2).foreach { _ =>
        val (_, misses, _) = outcomes {
          val r = scala.util.Try(post("/session/rc-fail/query", s"""{"sql":${jstr(sql)}}"""))
          assert(r.isFailure || r.get.statusCode() != 200 ||
            !new String(r.get.body()).endsWith("]"), "the failing query answered in full")
        }
        assert(misses == 1L)
        assert(cache.size == before)
      }
    }
  }

  test("LRU eviction keeps the charged bytes at or under the cap and drops the least recently used") {
    withSession("rc-lru") {
      register("rc-lru", "t", typed)
      cache.clear()
      // ~1 MB results, one entry each, at the real caps
      val pad = 1000000
      val fit = (ResultCache.MaxBytes / (pad + ResultCache.EntryOverheadBytes)).toInt
      def sql(i: Int) = s"SELECT id, repeat('x', $pad) AS pad, $i AS i FROM t WHERE id = 1"
      val evicted = cache.evictions.sum()
      (0 until fit).foreach(i => query("rc-lru", sql(i)))
      assert(cache.size == fit && cache.evictions.sum() == evicted)
      // 0 is the most recently used now; 1 is the eldest
      assert(outcomes(query("rc-lru", sql(0))) == ((1L, 0L, 0L)))
      query("rc-lru", sql(fit))
      assert(cache.evictions.sum() == evicted + 1)
      assert(cache.bytes <= ResultCache.MaxBytes)
      assert(outcomes(query("rc-lru", sql(0))) == ((1L, 0L, 0L)), "the touched entry was evicted")
      assert(outcomes(query("rc-lru", sql(1))) == ((0L, 1L, 0L)), "the least recently used entry survived")
      assert(cache.bytes <= ResultCache.MaxBytes)
      cache.clear()
    }
  }

  test("stop() empties the cache") {
    val own = new GraftServer(spark)
    own.start()
    try {
      val ownBase = s"http://127.0.0.1:${own.boundPort}"
      def ownPost(path: String, body: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$ownBase$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(), HttpResponse.BodyHandlers.ofString())
      ownPost("/session?id=rc-stop", "")
      ownPost("/session/rc-stop/datasource",
        s"""{"format":"parquet","name":"t","location":${jstr(typed.toString)}}""")
      val r = ownPost("/session/rc-stop/query", """{"sql":"SELECT id FROM t ORDER BY id"}""")
      assert(r.statusCode() == 200, r.body())
      assert(own.resultCache.size == 1 && own.resultCache.bytes > 0)
    } finally own.stop()
    assert(own.resultCache.size == 0 && own.resultCache.bytes == 0)
  }

  test("concurrent identical requests all return the correct answer") {
    withSession("rc-conc") {
      register("rc-conc", "t", typed)
      val sql = "SELECT id, dec, arr FROM t WHERE id > 0 ORDER BY id DESC"
      val want = cacheless(typed, sql, ResponseEncoders.JsonFormat)
      val n = 6
      val pool = Executors.newFixedThreadPool(n)
      val barrier = new CyclicBarrier(n)
      val before = cache.size
      try {
        val (hits, misses, _) = outcomes {
          val fs = (1 to n).map(_ => pool.submit(() => { barrier.await(); query("rc-conc", sql) }))
          fs.foreach(f => assert(f.get(60, TimeUnit.SECONDS).sameElements(want)))
        }
        assert(hits + misses == n)
        assert(cache.size == before + 1)
      } finally pool.shutdown()
    }
  }
}
