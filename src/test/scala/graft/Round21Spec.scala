package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{GraphAnn, GraphIndex, IndexLifecycle, Similarity}
import org.apache.spark.sql.DataFrame

/** Round-21 operators: graph-index WRITE-BACK (append s54 / repair
  * s55 — persisted mutation as a new immutable version, meta last)
  * and the lean top-k serving read (s56) the REST door answers with.
  */
class Round21Spec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def embDf(n: Int = 60, dim: Int = 8, seed: Int = 7) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-gwb-$tag")
      .toFile.getAbsolutePath

  private def edgeSet(dir: String): Set[(Long, Long)] =
    spark.read.parquet(s"$dir/edges").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Non-self exact top-k via the public brute-force batch (k+1 then
    * drop self and truncate): (query_id, neighbor_id) in rank order.
    */
  private def exactPairs(corpus: DataFrame, qids: Seq[Long],
      k: Int): Seq[(Long, Long)] =
    Similarity.bruteForceTopKBatch(corpus,
        corpus.where(col("vec_id").isin(qids: _*)), "embedding",
        "vec_id", "vec_id", k + 1)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .filter { case (q, d) => q != d }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, rows) => rows.take(k) }

  // ---------------- s54 append write-back ----------------

  test("s54: append write-back reconciles with the append audit and preserves untouched lists") {
    val emb = embDf(n = 70, seed = 11)
    val corpus = emb.where(col("vec_id") < 56)
    val batch = emb.where(col("vec_id") >= 56)
    val src = GraphIndex.buildIfAbsent(corpus, "embedding", "vec_id",
      s"${tmpDir("a1")}/idx", graphK = 4, buildRounds = 1)
    val audit = GraphAnn.graphAppendAuditLoaded(corpus, batch,
      "embedding", "vec_id", src, beamWidth = 8, hops = 2).collect()
      .map(r => r.getAs[String]("metric") -> r).toMap
    val dest = s"${tmpDir("a1d")}/idx"
    val wb = GraphAnn.graphAppendWriteBack(corpus, batch, "embedding",
      "vec_id", src, beamWidth = 8, hops = 2, destDir = dest)
    // meta carries the post-append corpus stats and source params
    assert(wb.n == 70L && wb.mn == 0L && wb.graphK == 4)
    assert(GraphIndex.open(spark, dest).n == 70L)
    val srcEdges = edgeSet(src.dir)
    val wbEdges = edgeSet(dest)
    // (a) batch rows of the new version == the audit's new_edges
    val batchRows = wbEdges.filter(_._1 >= 56L)
    assert(batchRows.size.toLong == audit("new_edges").getAs[Long]("n"))
    // (b) adopted (corpus → batch) edges == the audit's adopted_edges
    val adoptedRows = wbEdges.filter { case (s, d) => s < 56L && d >= 56L }
    assert(adoptedRows.size.toLong == audit("adopted_edges").getAs[Long]("n"))
    // (c) nodes the append never touched keep their exact lists —
    // the affected set is exactly the dst set of the batch rows
    val affSet: Set[Long] = batchRows.map(_._2)
    assert(wbEdges.filter { case (s, _) => s < 56L && !affSet.contains(s) } ==
      srcEdges.filter { case (s, _) => !affSet.contains(s) },
      "untouched corpus lists must survive the write-back bit-identically")
    // (d) affected nodes keep exactly graphK rows (re-ranked lists)
    affSet.foreach { a =>
      assert(wbEdges.count(_._1 == a) == 4,
        s"affected node $a list size != graphK")
    }
  }

  test("s54: write-back is deterministic (two dests agree) and write-once (reuse skips the rewrite)") {
    val emb = embDf(n = 50, seed = 13)
    val corpus = emb.where(col("vec_id") < 40)
    val batch = emb.where(col("vec_id") >= 40)
    val src = GraphIndex.buildIfAbsent(corpus, "embedding", "vec_id",
      s"${tmpDir("a2")}/idx", graphK = 3, buildRounds = 1)
    val d1 = s"${tmpDir("a2d1")}/idx"
    val d2 = s"${tmpDir("a2d2")}/idx"
    GraphAnn.graphAppendWriteBack(corpus, batch, "embedding", "vec_id",
      src, beamWidth = 6, hops = 2, destDir = d1)
    GraphAnn.graphAppendWriteBack(corpus, batch, "embedding", "vec_id",
      src, beamWidth = 6, hops = 2, destDir = d2)
    assert(edgeSet(d1) == edgeSet(d2), "write-back must be deterministic")
    // write-once: a second call into d1 reuses the persisted version
    def files(dir: String): Set[(String, Long)] =
      new java.io.File(s"$dir/edges").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val before = files(d1)
    val again = GraphAnn.graphAppendWriteBack(corpus, batch, "embedding",
      "vec_id", src, beamWidth = 6, hops = 2, destDir = d1)
    assert(files(d1) == before, "matching dest must REUSE, not rewrite")
    assert(again.n == 50L)
  }

  test("s54: a crash mid-write-back leaves the source serving and the dest absent") {
    val emb = embDf(n = 40, seed = 17)
    val corpus = emb.where(col("vec_id") < 32)
    val batch = emb.where(col("vec_id") >= 32)
    val src = GraphIndex.buildIfAbsent(corpus, "embedding", "vec_id",
      s"${tmpDir("a3")}/idx", graphK = 3, buildRounds = 0)
    val dest = s"${tmpDir("a3d")}/idx"
    // poisoned batch: evaluation throws during the write-back's walk,
    // AFTER the dest dir exists as a target — the crash window
    val poisoned = batch.withColumn("embedding",
      when(col("vec_id") >= 0L,
        raise_error(lit("injected writeback crash"))
          .cast("array<float>")).otherwise(col("embedding")))
    intercept[Exception] {
      GraphAnn.graphAppendWriteBack(corpus, poisoned, "embedding",
        "vec_id", src, beamWidth = 6, hops = 1, destDir = dest)
    }
    spark.catalog.clearCache() // the injected failure aborts mid-op
    // dest must open as ABSENT (no meta) — never half-written
    assert(!new java.io.File(s"$dest/meta").exists())
    // and the SOURCE version still serves
    val out = GraphAnn.graphSearchTopK(corpus, "embedding", "vec_id",
      src, queryIds = Seq(1L, 2L), k = 3, beamWidth = 6, hops = 2)
    assert(out.collect().length == 6)
    // the rerun completes into the same dest
    val wb = GraphAnn.graphAppendWriteBack(corpus, batch, "embedding",
      "vec_id", src, beamWidth = 6, hops = 1, destDir = dest)
    assert(wb.n == 40L && new java.io.File(s"$dest/meta").exists())
  }

  test("s54: the new version binds to corpus ∪ batch (staleness guard both ways)") {
    val emb = embDf(n = 45, seed = 19)
    val corpus = emb.where(col("vec_id") < 36)
    val batch = emb.where(col("vec_id") >= 36)
    val src = GraphIndex.buildIfAbsent(corpus, "embedding", "vec_id",
      s"${tmpDir("a4")}/idx", graphK = 3, buildRounds = 0)
    val wb = GraphAnn.graphAppendWriteBack(corpus, batch, "embedding",
      "vec_id", src, beamWidth = 6, hops = 1,
      destDir = s"${tmpDir("a4d")}/idx")
    try {
      // new handle refuses the PRE-append corpus
      val e1 = intercept[IllegalArgumentException] {
        GraphAnn.graphSearchTopK(corpus, "embedding", "vec_id", wb,
          queryIds = Seq(1L), k = 2, beamWidth = 4, hops = 1)
      }
      assert(e1.getMessage.contains("different corpus"))
      // old handle refuses the POST-append corpus
      val e2 = intercept[IllegalArgumentException] {
        GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", src,
          queryIds = Seq(1L), k = 2, beamWidth = 4, hops = 1)
      }
      assert(e2.getMessage.contains("different corpus"))
      // and the new handle serves the union
      assert(GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", wb,
        queryIds = Seq(1L, 40L), k = 3, beamWidth = 6, hops = 2)
        .collect().length == 6)
    } finally spark.catalog.clearCache()
  }

  // ---------------- s55 repair write-back ----------------

  test("s55: on a complete graph the repaired version IS the exact live complete graph, served dense-free") {
    import spark.implicits._
    val n = 12
    val emb = embDf(n = n, seed = 23)
    // graphK >= n-1: ring init is the complete graph; after deleting
    // {0, 5} the repair's candidate set covers every live node, so
    // the written-back version must be EXACTLY the complete graph
    // over the 10 live nodes
    val src = GraphIndex.buildIfAbsent(emb, "embedding", "vec_id",
      s"${tmpDir("r1")}/idx", graphK = n - 1, buildRounds = 0)
    val del = Seq(0L, 5L).toDF("vec_id")
    val dest = s"${tmpDir("r1d")}/idx"
    val wb = GraphAnn.graphRepairWriteBack(emb, "embedding", "vec_id",
      src, del, "vec_id", destDir = dest)
    val live = (0 until n).map(_.toLong).filterNot(Set(0L, 5L)).toSet
    assert(wb.n == live.size.toLong && wb.mn == 1L)
    val expected = for { s <- live; d <- live if s != d } yield (s, d)
    assert(edgeSet(dest) == expected.toSet,
      "repaired complete graph must equal the live complete graph")
    // serving the LIVE (non-dense!) corpus: top-k == exact brute
    // force; query 1 == the live min id exercises the alternate
    // entry (second-smallest live id, resolved by agg, not mn+1)
    val liveEmb = emb.where(!col("vec_id").isin(0L, 5L))
    val got = GraphAnn.graphSearchTopK(liveEmb, "embedding", "vec_id",
      wb, queryIds = Seq(1L, 7L), k = 4, beamWidth = n, hops = 2)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = exactPairs(liveEmb, Seq(1L, 7L), 4)
    assert(got == exact,
      s"complete-graph serve must equal exact top-k:\n$got\n$exact")
  }

  test("s55: no tombstoned id survives anywhere in the repaired version; guard rejects the old corpus") {
    import spark.implicits._
    val emb = embDf(n = 54, seed = 29)
    val src = GraphIndex.buildIfAbsent(emb, "embedding", "vec_id",
      s"${tmpDir("r2")}/idx", graphK = 5, buildRounds = 1)
    val del = (0 until 54 by 9).map(_.toLong).toDF("vec_id")
    val dest = s"${tmpDir("r2d")}/idx"
    val wb = GraphAnn.graphRepairWriteBack(emb, "embedding", "vec_id",
      src, del, "vec_id", destDir = dest)
    val dels = (0 until 54 by 9).map(_.toLong).toSet
    val edges = edgeSet(dest)
    assert(edges.nonEmpty)
    assert(!edges.exists { case (s, d) => dels.contains(s) || dels.contains(d) },
      "tombstoned ids must be fully compacted out")
    assert(wb.n == 48L && wb.mn == 1L)
    try {
      val e = intercept[IllegalArgumentException] {
        GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", wb,
          queryIds = Seq(1L), k = 2, beamWidth = 4, hops = 1)
      }
      assert(e.getMessage.contains("different corpus"))
    } finally spark.catalog.clearCache()
    // an empty tombstone set writes a faithful copy version
    val dest2 = s"${tmpDir("r2e")}/idx"
    GraphAnn.graphRepairWriteBack(emb, "embedding", "vec_id", src,
      Seq.empty[Long].toDF("vec_id"), "vec_id", destDir = dest2)
    assert(edgeSet(dest2) == edgeSet(src.dir),
      "empty deletion must write a faithful copy")
  }

  // ---------------- s56 lean top-k serve ----------------

  test("s56: graphSearchTopK equals the exact top-k on a complete graph and is rank-contiguous") {
    val emb = embDf(n = 25, seed = 31)
    val h = GraphIndex.buildIfAbsent(emb, "embedding", "vec_id",
      s"${tmpDir("s1")}/idx", graphK = 24, buildRounds = 0)
    val got = GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", h,
      queryIds = Seq(0L, 3L, 9L), k = 5, beamWidth = 25, hops = 1)
      .orderBy("query_id", "rank").collect()
    assert(got.length == 15)
    got.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L))
    }
    val exact = exactPairs(emb, Seq(0L, 3L, 9L), 5)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == exact)
    // the 6-dp cosine contract
    got.foreach { r =>
      val c = r.getAs[Double]("cosine")
      assert((c * 1e6).round / 1e6 == c, s"cosine not 6-dp rounded: $c")
    }
  }

  test("s56: lean serve pins only the version's node frame; query cap and absent ids are loud") {
    val emb = embDf(n = 40, seed = 37)
    val h = GraphIndex.buildIfAbsent(emb, "embedding", "vec_id",
      s"${tmpDir("s2")}/idx", graphK = 4, buildRounds = 1)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", h,
      queryIds = Seq(2L, 17L), k = 3, beamWidth = 6, hops = 2).collect()
    // coarse-entry flavor too
    GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", h,
      queryIds = Seq(2L, 17L), k = 3, beamWidth = 6, hops = 2,
      coarseEntryK = Some(8)).collect()
    intercept[IllegalArgumentException] {
      GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", h,
        queryIds = Seq(999L), k = 2, beamWidth = 4, hops = 1)
    }
    intercept[IllegalArgumentException] {
      GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", h,
        queryIds = (0L until 257L).toSeq, k = 2, beamWidth = 4, hops = 1)
    }
    // both flavors and the failed calls share the one cached node
    // frame of this (version, corpus); releasing the version drops it
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    val held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(held.size == 1, s"lean serve must hold one node frame, got $held")
    IndexLifecycle.ServingState.release(h.dir)
    var leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(leaked.isEmpty, s"lean serve leaked cache ids $leaked")
  }

  // ---------------- d42 index-accelerated semantic dedup ----------------

  test("d42: on a complete-graph index graphSemDedup equals the exact tau-component dedup") {
    import spark.implicits._
    // planted duplicate clusters: ids {2, 7, 11} are clones of one
    // vector, {4, 9} of another; the rest are random (near-orthogonal)
    val rnd = new scala.util.Random(53)
    val a = Array.fill(8)(rnd.nextGaussian().toFloat)
    val b = Array.fill(8)(rnd.nextGaussian().toFloat)
    val emb = (0 until 14).map { i =>
      val v = if (Set(2, 7, 11)(i)) a.clone()
        else if (Set(4, 9)(i)) b.clone()
        else Array.fill(8)(rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    // graphK = n-1: the ring IS the complete graph, so the candidate
    // set covers every pair and the result must equal exact dedup
    val h = GraphIndex.buildIfAbsent(emb, "embedding", "vec_id",
      s"${tmpDir("sd")}/idx", graphK = 13, buildRounds = 0)
    val out = GraphAnn.graphSemDedup(emb, "embedding", "vec_id", h,
      tau = 0.999).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 14)
    out.foreach { case (id, rep, keep) =>
      val expectedRep =
        if (Set(2L, 7L, 11L)(id)) 2L else if (Set(4L, 9L)(id)) 4L else id
      assert(rep == expectedRep, s"id $id rep $rep != $expectedRep")
      assert(keep == (id == expectedRep), s"id $id keep $keep")
    }
  }

  test("d42: the candidate stage is the index's edges — pair coverage bounds recall (stated trade)") {
    import spark.implicits._
    // a sparse graph CAN miss tau-pairs: two clone pairs, graphK = 1
    // with 0 refinement — each node's single ring edge points at
    // id+1, so the (0, 5) clone pair has no edge and must be MISSED
    // while (3, 4) (ring-adjacent) is found. The operator's contract
    // is the honest trade, not silent exactness.
    val rnd = new scala.util.Random(59)
    val a = Array.fill(6)(rnd.nextGaussian().toFloat)
    val b = Array.fill(6)(rnd.nextGaussian().toFloat)
    val emb = (0 until 8).map { i =>
      val v = if (i == 0 || i == 5) a.clone()
        else if (i == 3 || i == 4) b.clone()
        else Array.fill(6)(rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val h = GraphIndex.buildIfAbsent(emb, "embedding", "vec_id",
      s"${tmpDir("sd2")}/idx", graphK = 1, buildRounds = 0)
    val out = GraphAnn.graphSemDedup(emb, "embedding", "vec_id", h,
      tau = 0.999).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(4L) == (3L, false), s"ring-adjacent clone found: ${out(4L)}")
    assert(out(5L) == (5L, true),
      s"graphK=1 must MISS the non-adjacent clone (the stated trade): ${out(5L)}")
  }

  // ---------------- registry swap (the door's write-back move) ----------------

  test("orphan sweep retires stale-corpus dirs, never live-corpus or fixture-shaped dirs") {
    val tmp = System.getProperty("java.io.tmpdir")
    val liveC = "ab" * 16
    val staleC = "cd" * 16
    val pk = "0123456789ab"
    def mk(name: String): java.io.File = {
      val f = new java.io.File(tmp, name)
      f.mkdirs()
      java.nio.file.Files.write(f.toPath.resolve("marker"), "x".getBytes)
      f
    }
    val stale = mk(s"graft-gidx-$staleC-$pk")
    val live = mk(s"graft-gidx-$liveC-$pk")
    val liveOtherTag = mk(s"graft-gidx-$liveC-ba9876543210")
    // a test fixture's temp dir shares the prefix but not the
    // hex shape — the sweep must be unable to reach it
    val fixture = mk("graft-gidx-s49fixture42")
    try {
      SparkEntry.pruneOrphanIndexDirs("graft-gidx-", liveC)
      assert(!stale.exists(), "stale-corpus dir must be retired")
      assert(live.exists(), "live-corpus dir must survive")
      assert(liveOtherTag.exists(),
        "ALL param variants of the live corpus must survive")
      assert(fixture.exists(), "fixture-shaped dirs must be untouchable")
    } finally Seq(live, liveOtherTag, fixture, stale).foreach { f =>
      if (f.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(f): Unit
    }
  }

  test("the declared index keys carry the corpus part as their dir prefix") {
    // idxKeys ties the sweep's safety to the naming contract: key
    // starts with the 32-hex corpus part, then a 12-hex param part
    val dir = java.nio.file.Files.createTempDirectory("graft-idxkeys")
      .toFile.getAbsolutePath
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"), "pq".getBytes)
    val (cpart, key) = SparkEntry.idxKeys(dir, "full|gk10|r3")
    assert(cpart.matches("[0-9a-f]{32}"), cpart)
    assert(key.matches(s"$cpart-[0-9a-f]{12}"), key)
    val (cpart2, key2) = SparkEntry.idxKeys(dir, "c80|gk5|r2")
    assert(cpart2 == cpart && key2 != key,
      "same corpus, different params: shared corpus part, distinct key")
  }

  test("swapTo repoints the name and condemns the superseded version's dir") {
    val emb = embDf(n = 30, seed = 41)
    val corpus = emb.where(col("vec_id") < 24)
    val batch = emb.where(col("vec_id") >= 24)
    val srcDir = s"${tmpDir("sw")}/idx"
    val src = GraphIndex.openOrBuildCached("r21-swap-test", corpus,
      "embedding", "vec_id", srcDir, graphK = 3, buildRounds = 0)
    val wb = GraphAnn.graphAppendWriteBack(corpus, batch, "embedding",
      "vec_id", src, beamWidth = 6, hops = 1,
      destDir = s"${tmpDir("swd")}/idx")
    val swapped = GraphIndex.swapTo("r21-swap-test", wb)
    assert(swapped.dir == wb.dir)
    assert(GraphIndex.get("r21-swap-test").map(_.dir).contains(wb.dir))
    // no reader held the old version: its files are reclaimed
    assert(!new java.io.File(s"$srcDir/meta").exists(),
      "superseded version's files must be condemned and reclaimed")
    // the new version still serves
    assert(GraphAnn.graphSearchTopK(emb, "embedding", "vec_id", wb,
      queryIds = Seq(1L), k = 2, beamWidth = 4, hops = 1)
      .collect().length == 2)
    assert(GraphIndex.dropAndDelete("r21-swap-test"))
  }
}
