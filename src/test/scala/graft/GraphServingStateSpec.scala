package graft

import graft.pipeline.{GraphAnn, GraphIndex, IndexLifecycle}
import graft.serve.GraftServer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The lean graph read's serving state: one cached node frame per
  * (index version, corpus), reused across requests, never aliased
  * across corpora, and released with the version — by DELETE, a
  * superseding re-POST, an append swap, or session removal. Binds an
  * ephemeral port, so it stays in the "fast" test group.
  */
class GraphServingStateSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def embDf(n: Int, dim: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-gss-$tag")
      .toFile.getAbsolutePath

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persistent RDDs beyond `before`, once unpersists have settled. */
  private def settled(before: Set[Int], want: Int): Set[Int] = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    var extra = persisted -- before
    while (extra.size != want && System.nanoTime() < deadline) {
      Thread.sleep(100)
      extra = persisted -- before
    }
    extra
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).toSeq.sorted

  /** Bit-exact digest of a result: ids, cosine bits and ranks. */
  private def digest(rs: Seq[(Long, Long, Double, Long)]): String =
    java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      rs.map { case (q, n, c, r) =>
        s"$q,$n,${java.lang.Double.doubleToLongBits(c)},$r"
      }.mkString(";")))

  // 240 x 16-d corpus, gk6/r1 index; six random 8-id batches plus one
  // holding the min id (the alternate-entry case)
  private lazy val pinEmb = embDf(n = 240, dim = 16, seed = 2026)
  private lazy val pinBatches: Seq[Seq[Long]] = {
    val br = new scala.util.Random(5)
    Seq.fill(6)(Seq.fill(8)(br.nextInt(240).toLong).distinct) :+
      Seq(0L, 1L, 239L)
  }

  test("lean serve returns exactly the rows the per-request walk returned") {
    // digests pinned from the walk that rebuilt its corpus cache and
    // edge closure on every call (same corpus, index and batches)
    val plain = Seq("b3763450", "d0b661de", "44124776", "d799ec19",
      "a1f7dfda", "d20d023e", "7dc51552")
    val coarse = Seq("64de3f8d", "16055e7", "1d97aca1", "a3a10b85",
      "b5a49613", "6bbe87a1", "5c746633")
    val repaired = Seq("5f0d55a0", "e7748cda", "4db3a3b7", "36132bbe",
      "24798407", "e8b0ebb7", "3a26f70f")
    val dir = s"${tmpDir("pin")}/idx"
    val h = GraphIndex.build(pinEmb, "embedding", "vec_id", dir, 6, 1)
    try {
      pinBatches.zip(plain).foreach { case (b, want) =>
        val got = rows(GraphAnn.graphSearchTopK(pinEmb, "embedding",
          "vec_id", h, b, k = 5, beamWidth = 10, hops = 3))
        assert(got.size == 5 * b.size && digest(got) == want,
          s"batch $b drifted: $got")
      }
      pinBatches.zip(coarse).foreach { case (b, want) =>
        val got = rows(GraphAnn.graphSearchTopK(pinEmb, "embedding",
          "vec_id", h, b, k = 4, beamWidth = 8, hops = 2,
          coarseEntryK = Some(12)))
        assert(got.size == 4 * b.size && digest(got) == want,
          s"coarse batch $b drifted: $got")
      }
      // a repaired (tombstone-compacted, non-dense) version
      val live = pinEmb.where(col("vec_id") % 9 =!= 5)
      val wb = GraphAnn.graphRepairWriteBack(pinEmb, "embedding", "vec_id",
        h, pinEmb.where(col("vec_id") % 9 === 5).select(col("vec_id")),
        "vec_id", dir + "-rep")
      try {
        pinBatches.map(_.filter(_ % 9 != 5)).zip(repaired).foreach {
          case (b, want) =>
            val got = rows(GraphAnn.graphSearchTopK(live, "embedding",
              "vec_id", wb, b, k = 5, beamWidth = 10, hops = 3))
            assert(got.size == 5 * b.size && digest(got) == want,
              s"repaired batch $b drifted: $got")
        }
      } finally IndexLifecycle.ServingState.release(wb.dir)
    } finally IndexLifecycle.ServingState.release(h.dir)
  }

  test("one node frame per version: searches reuse it, release drops it") {
    val emb = embDf(n = 60, dim = 8, seed = 13)
    val h = GraphIndex.build(emb, "embedding", "vec_id",
      s"${tmpDir("one")}/idx", 4, 1)
    val before = persisted
    (1 to 3).foreach { i =>
      GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", h,
        Seq(i.toLong, 40L + i), k = 3, beamWidth = 6, hops = 2).collect()
    }
    assert(settled(before, 1).size == 1,
      "three searches of one version must share one cached frame")
    IndexLifecycle.ServingState.release(h.dir)
    assert(settled(before, 0).isEmpty, "release must unpersist the frame")
  }

  test("a filtered corpus over the same files gets its own frame (s55 shape)") {
    val path = s"${tmpDir("filt")}/emb.parquet"
    embDf(n = 90, dim = 8, seed = 17).write.parquet(path)
    val full = spark.read.parquet(path)
    val live = spark.read.parquet(path).where(col("vec_id") % 9 =!= 5)
    val dir = s"${tmpDir("filt")}/idx"
    val h = GraphIndex.build(full, "embedding", "vec_id", dir, 4, 1)
    val wb = GraphAnn.graphRepairWriteBack(full, "embedding", "vec_id", h,
      full.where(col("vec_id") % 9 === 5).select(col("vec_id")), "vec_id",
      dir + "-rep")
    try {
      // serve the repaired version over the filtered view first, so a
      // frame keyed by file identity alone would be found next
      assert(GraphAnn.graphSearchTopK(live, "embedding", "vec_id", wb,
        Seq(1L, 2L), k = 3, beamWidth = 6, hops = 2).count() == 6)
      val e = intercept[IllegalArgumentException] {
        GraphAnn.graphSearchTopK(full, "embedding", "vec_id", wb,
          Seq(1L, 2L), k = 3, beamWidth = 6, hops = 2)
      }
      assert(e.getMessage.contains("different corpus"), e.getMessage)
      // and the other way round on the full version
      assert(GraphAnn.graphSearchTopK(full, "embedding", "vec_id", h,
        Seq(1L, 2L), k = 3, beamWidth = 6, hops = 2).count() == 6)
      intercept[IllegalArgumentException] {
        GraphAnn.graphSearchTopK(live, "embedding", "vec_id", h,
          Seq(1L, 2L), k = 3, beamWidth = 6, hops = 2)
      }
    } finally {
      IndexLifecycle.ServingState.release(h.dir)
      IndexLifecycle.ServingState.release(wb.dir)
    }
  }

  test("a corpus rewritten in place under the same name is never served stale") {
    val path = s"${tmpDir("stale")}/emb.parquet"
    val a = embDf(n = 50, dim = 8, seed = 19)
    val b = embDf(n = 50, dim = 8, seed = 23) // same ids, other vectors
    a.write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("gss_corpus")
    val h = GraphIndex.build(spark.table("gss_corpus"), "embedding",
      "vec_id", s"${tmpDir("stale")}/idx", 4, 1)
    try {
      val qs = Seq(3L, 30L)
      val first = rows(GraphAnn.graphSearchTopK(spark.table("gss_corpus"),
        "embedding", "vec_id", h, qs, k = 3, beamWidth = 6, hops = 2))
      b.write.mode("overwrite").parquet(path)
      spark.read.parquet(path).createOrReplaceTempView("gss_corpus")
      val second = rows(GraphAnn.graphSearchTopK(spark.table("gss_corpus"),
        "embedding", "vec_id", h, qs, k = 3, beamWidth = 6, hops = 2))
      // every returned cosine is the NEW corpus's
      val vb: Map[Long, Array[Double]] = b.collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def cos(x: Array[Double], y: Array[Double]): Double = {
        val d = x.zip(y).map { case (p, q) => p * q }.sum
        d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
      }
      second.foreach { case (q, n, c, _) =>
        assert(math.abs(c - cos(vb(q), vb(n))) < 2e-6,
          s"($q, $n) scored $c, not against the rewritten corpus")
      }
      assert(first != second, "the rewrite must change the answer")
    } finally IndexLifecycle.ServingState.release(h.dir)
  }

  // ---------------- over HTTP ----------------

  private def withServer(body: String => Unit): Unit = {
    val server = new GraftServer(spark)
    server.start()
    try body(s"http://127.0.0.1:${server.boundPort}") finally server.stop()
  }

  private def call(method: String, url: String, body: String = "") =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def mustOk(method: String, url: String, body: String = ""): String = {
    val r = call(method, url, body)
    assert(r.statusCode() == 200, s"$method $url -> ${r.statusCode()} ${r.body()}")
    r.body()
  }

  private def graphSession(base: String, sid: String): Unit = {
    mustOk("POST", s"$base/session?id=$sid")
    mustOk("POST", s"$base/session/$sid/datasource",
      s"""{"format":"parquet","name":"embeddings",
          "location":"${SparkFixture.sfDir}/embeddings.parquet"}""")
  }

  private def postGraph(base: String, sid: String, table: String,
      graphK: Int): String =
    mustOk("POST", s"$base/session/$sid/index",
      s"""{"name":"g","table":"$table","type":"graph","vecCol":"embedding",
         "idCol":"vec_id","graphK":$graphK,"buildRounds":1}""")

  private def search(base: String, sid: String, table: String,
      ids: Seq[Long]): Int =
    mapper.readTree(mustOk("POST", s"$base/session/$sid/index/g/search",
      s"""{"table":"$table","queryIds":${ids.mkString("[", ",", "]")},"k":4}"""))
      .size()

  test("concurrent graph searches then DELETE /session leave no cached blocks") {
    withServer { base =>
      val sid = "gss-conc"
      val before = persisted
      graphSession(base, sid)
      postGraph(base, sid, "embeddings", 4)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          try (0 until 3).foreach { i =>
            val q = Seq(t * 7L + i, 20L + t * 3 + i)
            assert(search(base, sid, "embeddings", q) == 4 * q.distinct.size)
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errors.isEmpty, errors.toString)
      assert(settled(before, 1).size == 1,
        "concurrent first searches must build one frame")
      mustOk("DELETE", s"$base/session/$sid")
      assert(settled(before, 0).isEmpty,
        "session removal must release the version's node frame")
      val storage = spark.sparkContext.getRDDStorageInfo
        .filter(r => r.numCachedPartitions > 0 && !before.contains(r.id))
      assert(storage.isEmpty, storage.map(_.name).mkString(", "))
    }
  }

  test("index DELETE, a param-change re-POST and an append swap release the frame") {
    withServer { base =>
      val sid = "gss-life"
      graphSession(base, sid)
      try {
        val before = persisted
        // DELETE
        postGraph(base, sid, "embeddings", 4)
        assert(search(base, sid, "embeddings", Seq(1L, 2L)) == 8)
        assert(settled(before, 1).size == 1)
        mustOk("DELETE", s"$base/session/$sid/index/g")
        assert(settled(before, 0).isEmpty, "DELETE must release the frame")
        // a re-POST with other params supersedes (condemns) the version
        postGraph(base, sid, "embeddings", 4)
        assert(search(base, sid, "embeddings", Seq(1L, 2L)) == 8)
        assert(settled(before, 1).size == 1)
        postGraph(base, sid, "embeddings", 5)
        assert(settled(before, 0).isEmpty,
          "a superseding re-POST must release the old version's frame")
        mustOk("DELETE", s"$base/session/$sid/index/g")
        // an append write-back swaps to a new version
        mustOk("POST", s"$base/session/$sid/query",
          """{"sql":"CREATE OR REPLACE TEMP VIEW c80 AS SELECT * FROM embeddings WHERE vec_id < 40"}""")
        mustOk("POST", s"$base/session/$sid/query",
          """{"sql":"CREATE OR REPLACE TEMP VIEW b20 AS SELECT * FROM embeddings WHERE vec_id >= 40 AND vec_id < 50"}""")
        mustOk("POST", s"$base/session/$sid/query",
          """{"sql":"CREATE OR REPLACE TEMP VIEW c100 AS SELECT * FROM embeddings WHERE vec_id < 50"}""")
        postGraph(base, sid, "c80", 4)
        assert(search(base, sid, "c80", Seq(1L, 2L)) == 8)
        assert(settled(before, 1).size == 1)
        mustOk("POST", s"$base/session/$sid/index/g/append",
          """{"table":"b20","corpusTable":"c80","beamWidth":8,"hops":2}""")
        assert(settled(before, 0).isEmpty,
          "an append swap must release the superseded version's frame")
        assert(search(base, sid, "c100", Seq(1L, 45L)) == 8)
        assert(settled(before, 1).size == 1)
      } finally mustOk("DELETE", s"$base/session/$sid")
    }
  }
}
