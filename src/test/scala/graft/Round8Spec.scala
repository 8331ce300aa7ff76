package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Clustering, Dedup, Multimodal, TextAnalysis}

/** Round-8 operators: semantic dedup (SemDeDup), bigram LM logprob,
  * n-gram novelty, and the BMP codec roundtrip.
  */
class Round8Spec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // ---------------------------------------------------------------- semDedup

  /** Two tight clusters on orthogonal axes + one lone vector. Within
    * cluster A (ids 0,2,3) all pairs are near-identical; within B
    * (ids 1,4) likewise; id 5 sits between the axes, assigned to its
    * nearest seed but far from everything.
    */
  private def embs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(0.98f, 0.0f, 0.02f)),
      (4L, Array(0.01f, 0.95f, 0.0f)),
      (5L, Array(0.6f, 0.0f, 0.8f))
    ).toDF("vec_id", "embedding")
  }

  test("semDedup keeps the smallest id of every near-dup group") {
    val out = Clustering.semDedup(embs, "embedding", "vec_id", k = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // seeds are ids 0 (x-axis) and 1 (y-axis); 2,3 cluster with 0 and
    // are within 0.9 cosine of it -> dropped; 4 clusters with 1 ->
    // dropped; 5 joins cell 0 but cos(5, anything) < 0.9 -> kept
    assert(out == Map(0L -> true, 1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> true))
  }

  test("semDedup emits one row per input with its cell") {
    val out = Clustering.semDedup(embs, "embedding", "vec_id", k = 2, threshold = 0.9)
    assert(out.count() == 6)
    val cells = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cells(2L) == 0L && cells(3L) == 0L && cells(4L) == 1L)
    assert(cells(5L) == 0L, "5 is nearer the x seed")
  }

  test("semDedup differential: drop set == cell-scoped brute-force pairs") {
    val emb = Tables.load(spark, SparkFixture.sfDir, "embeddings")
    val tau = 0.35
    val out = Clustering.semDedup(emb, "embedding", "vec_id", k = 4, threshold = tau)
    val asg = Clustering.assignToSeeds(emb, "embedding", "vec_id", k = 4)
      .select(col("vec_id"), col("cell"))
    // brute force: all pairs via embeddingNearDups, then scope to
    // same-cell pairs; dropped == {id_b of some same-cell pair}
    val allPairs = Dedup.embeddingNearDups(emb, "embedding", "vec_id", tau)
    val expectDrops = allPairs
      .join(asg.withColumnRenamed("vec_id", "id_a").withColumnRenamed("cell", "ca"), "id_a")
      .join(asg.withColumnRenamed("vec_id", "id_b").withColumnRenamed("cell", "cb"), "id_b")
      .where(col("ca") === col("cb"))
      .select(col("id_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val gotDrops = out.where(!col("keep")).collect().map(_.getLong(0)).toSet
    assert(gotDrops == expectDrops)
  }

  test("semDedup maxCell: huge cap is exact, small cap drops a subset") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed8005L)
    // one dominant direction so most vectors land in one cell
    val vecs = Array.tabulate(40) { i =>
      val base = Array(1.0, 0.1, 0.1)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = vecs.toSeq.toDF("vec_id", "embedding")
    def drops(cap: Option[Int]): Set[Long] =
      Clustering.semDedup(emb, "embedding", "vec_id", k = 2, threshold = 0.98, cap)
        .where(!col("keep")).collect().map(_.getLong(0)).toSet
    val exact = drops(None)
    assert(drops(Some(1000)) == exact, "cap above cell size must be exact")
    val capped = drops(Some(3))
    assert(capped.subsetOf(exact), "capped drops must be a subset of exact")
    assert(Clustering.semDedup(emb, "embedding", "vec_id", 2, 0.98, Some(3))
      .count() == 40, "cap must not lose rows")
    assert(exact.nonEmpty, "generator failed to create near-dups")
  }

  test("semDedupIncremental drops batch members near corpus or earlier batch") {
    import spark.implicits._
    val corpus = embs.where(col("vec_id") < 4)
    val batch = embs.where(col("vec_id") >= 4)
    val out = Clustering.semDedupIncremental(corpus, batch, "embedding", "vec_id",
        k = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // seeds from the corpus: 0 (x-axis), 1 (y-axis). Batch member 4
    // lands in cell 1 within 0.9 of corpus member 1 -> dropped; 5
    // lands in cell 0 but nothing is within 0.9 -> kept
    assert(out.toSet == Set((4L, 1L, false), (5L, 0L, true)))
  }

  test("semDedupIncremental fuzz: 10 random corpus/batch splits match brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed8004L)
    for (round <- 0 until 10) {
      val n = 24 + rnd.nextInt(30)
      val dim = 4 + rnd.nextInt(6)
      val k = 2 + rnd.nextInt(3)
      val tau = 0.3 + rnd.nextDouble() * 0.5
      val vecs = Array.tabulate(n)(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      val (corpusV, batchV) = vecs.partition(_._1 % 3 != 0)
      val corpus = corpusV.toSeq.toDF("vec_id", "embedding")
      val batch = batchV.toSeq.toDF("vec_id", "embedding")

      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val seeds = corpusV.sortBy(_._1).take(k)
      def cellOf(v: Array[Float]): Long =
        seeds.map { case (cid, sv) => (cos(v, sv), cid) }
          .maxBy { case (s, cid) => (s, -cid) }._2
      val cCell = corpusV.map { case (id, v) => id -> cellOf(v) }.toMap
      val bCell = batchV.map { case (id, v) => id -> cellOf(v) }.toMap
      val expectDrop = batchV.filter { case (idb, vb) =>
        corpusV.exists { case (idc, vc) =>
          cCell(idc) == bCell(idb) && cos(vb, vc) >= tau } ||
        batchV.exists { case (ida, va) =>
          ida < idb && bCell(ida) == bCell(idb) && cos(va, vb) >= tau }
      }.map(_._1).toSet

      val got = Clustering.semDedupIncremental(corpus, batch, "embedding",
        "vec_id", k, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(got.length == batchV.length, s"round $round: row count")
      got.foreach { case (id, c, keep) =>
        assert(c == bCell(id), s"round $round: cell of $id")
        assert(keep == !expectDrop(id), s"round $round: keep of $id (k=$k tau=$tau)")
      }
    }
  }

  // -------------------------------------------------------- heavyHittersCms

  test("cms heavy hitters: exact counts, estimate always >= count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a b c d e"),
      (3L, "a a d")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.heavyHittersCms(docs, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byTok = out.map(t => t._1 -> t).toMap
    // exact counts: a=6, b=3, c=2, d=2, e=1 -> top3 = a, b, then c (tie c/d by tok)
    assert(out.map(_._1).toSet == Set("a", "b", "c"))
    assert(byTok("a")._2 == 6L && byTok("b")._2 == 3L && byTok("c")._2 == 2L)
    out.foreach { case (tok, cnt, est) =>
      assert(est >= cnt, s"$tok: cms estimate $est below exact $cnt")
    }
  }

  test("cms with width 1 collapses every estimate to the corpus total") {
    import spark.implicits._
    val docs = Seq((1L, "x y z z")).toDF("doc_id", "text")
    val out = TextAnalysis.heavyHittersCms(docs, "text", k = 5, depth = 2, width = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 3)
    out.foreach { case (tok, _, est) =>
      assert(est == 4L, s"$tok: single-cell sketch must estimate the total")
    }
  }

  // ---------------------------------------------------------- bigramLogProb

  test("bigram logprob matches hand computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"), // bigrams: (a b) x2, (b a) x1
      (2L, "a c"),     // bigrams: (a c) x1
      (3L, "z")        // no bigrams -> absent from output
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: c12(a b)=2, c12(b a)=1, c12(a c)=1; c1(a)=3, c1(b)=1
    val d1 = (2 * math.log(2.0 / 3) + 1 * math.log(1.0 / 1)) / 3
    val d2 = math.log(1.0 / 3)
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 3L && out(2L)._1 == 1L)
    assert(math.abs(out(1L)._2 - BigDecimal(d1).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(out(2L)._2 - BigDecimal(d2).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bigram logprob of a uniform corpus is zero") {
    import spark.implicits._
    // every context is followed by exactly one continuation ->
    // P(w2|w1) = 1 everywhere -> mean_logp = 0
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "text", "doc_id").collect()
    assert(out.forall(_.getDouble(2) == 0.0))
  }

  test("interpolated logprob at lambda=1 reduces to the pure bigram model") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "b c a"), (3L, "a a b"))
      .toDF("doc_id", "text")
    val bi = TextAnalysis.bigramLogProb(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val interp = TextAnalysis.interpolatedLogProb(docs, "text", "doc_id", lambda = 1.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(interp == bi, s"lambda=1 must equal the bigram model: $interp vs $bi")
  }

  test("interpolated logprob matches hand computation at lambda=0.5") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    // unigrams: a=2, b=1, c=1, N=4; bigrams: (a b)=1, (a c)=1, c1(a)=2
    // doc1: ln(0.5*(1/2) + 0.5*(1/4)) = ln(0.375)
    val expect = BigDecimal(math.log(0.375))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextAnalysis.interpolatedLogProb(docs, "text", "doc_id", 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(out(1L) - expect) < 1e-9)
    assert(math.abs(out(2L) - expect) < 1e-9, "symmetric doc must score the same")
  }

  // ----------------------------------------------------------- ngramNovelty

  test("ngram novelty: first doc 1.0, repeat 0.0, partial overlap 0.5") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),  // {a b c, b c d} both first here
      (2L, "a b c x"),  // {a b c (seen), b c x (new)}
      (3L, "a b c d"),  // exact dup -> all seen
      (4L, "q r")       // < 3 tokens -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "text", "doc_id", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
  }

  test("ngram novelty normalizes case and whitespace like d02/d06") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The  Quick   Brown fox"),
      (2L, "the quick brown cat")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // doc2's "the quick brown" collides with doc1's normalized form
    assert(out(1L) == 2L && out(2L) == 1L)
  }

  // ---------------------------------------------------- temperatureWeights

  test("temperature weights up-weight rare sources; alpha=1 is natural") {
    import spark.implicits._
    val docs = (Seq.fill(8)("big") ++ Seq.fill(2)("small")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "source")
    val w = graft.pipeline.Sampling.temperatureWeights(docs, "source", 0.5)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    // sqrt(8)=2.828, sqrt(2)=1.414 -> weights 2/3, 1/3
    assert(w("big")._1 == 0.8 && w("small")._1 == 0.2)
    assert(math.abs(w("big")._2 - 2.0 / 3) < 1e-6)
    assert(math.abs(w("small")._2 - 1.0 / 3) < 1e-6)
    assert(w("small")._2 > w("small")._1, "temperature must up-weight the rare source")
    val nat = graft.pipeline.Sampling.temperatureWeights(docs, "source", 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(nat("big") == 0.8 && nat("small") == 0.2, "alpha=1 keeps natural proportions")
  }

  // -------------------------------------------------------------- zipfFit

  test("zipf fit recovers slope -1 on an exact power-law corpus") {
    import spark.implicits._
    // counts ~ 1000/r for r = 1..10: ln y = ln 1000 - 1 * ln r
    val words = (1 to 10).flatMap(r => Seq.fill(1000 / r)(s"w$r"))
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val row = TextAnalysis.zipfFit(docs, "text", topN = 10).head()
    assert(row.getLong(0) == 10L)
    val slope = row.getDouble(1)
    assert(slope > -1.05 && slope < -0.95, s"slope $slope not ~ -1")
    assert(row.getDouble(3) > 0.99, s"r2 ${row.getDouble(3)} not ~ 1 on a power law")
  }

  test("zipf fit matches an in-JVM OLS reference exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed8007L)
    val vocab = (0 until 40).map(i => s"t$i")
    val docs = (0 until 20).map { i =>
      (i.toLong, Seq.fill(30 + rnd.nextInt(50))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val row = TextAnalysis.zipfFit(docs, "text", topN = 25).head()
    // reference: identical counts, rank order, and OLS algebra
    val counts = docs.collect().flatMap(_.getString(1).split(" "))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(25)
    val xy = counts.zipWithIndex.map { case ((_, c), i) =>
      (math.log((i + 1).toDouble), math.log(c.toDouble)) }
    val n = xy.size.toDouble
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(row.getLong(0) == 25L)
    assert(math.abs(row.getDouble(1) - slope) < 1e-6,
      s"slope ${row.getDouble(1)} vs reference $slope")
  }

  // ------------------------------------------------------------ mmrTopK

  test("mmr picks diversity over redundancy where pure top-k would not") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // query
      (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.98f, 0.12f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f))    // orthogonal direction
    ).toDF("vec_id", "embedding")
    val pure = graft.pipeline.Similarity.bruteForceTopK(emb, "embedding", "vec_id", 0L, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(pure == Seq(1L, 2L), "pure top-2 returns the redundant pair")
    // λ = 0.2: score(2|{1}) = 0.2·0.993 − 0.8·~1 ≈ −0.60, while the
    // orthogonal 3 pays almost no redundancy: 0 − 0.8·0.10 ≈ −0.08
    val mmr = graft.pipeline.Similarity.mmrTopK(emb, "embedding", "vec_id", 0L,
        k = 2, lambda = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(mmr.map(_._2) == Seq(1L, 3L), s"mmr must spend rank 2 on diversity: $mmr")
    assert(mmr.map(_._1) == Seq(1L, 2L), "ranks must be 1..k in selection order")
  }

  test("mmr fuzz: 12 random corpora match an in-JVM greedy reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed8006L)
    for (round <- 0 until 12) {
      // the last two rounds draw k > MmrFoldEvery, so the chunked
      // max_sim fold is pinned against the reference too
      val fold = round >= 10
      val n = if (fold) 40 + rnd.nextInt(20) else 12 + rnd.nextInt(20)
      val dim = 3 + rnd.nextInt(5)
      val k = if (fold) 17 + rnd.nextInt(8) else 3 + rnd.nextInt(4)
      val lam = 0.3 + rnd.nextDouble() * 0.6
      val vecs = Array.tabulate(n)(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      val emb = vecs.toSeq.toDF("vec_id", "embedding")
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val q = vecs(0)._2
      val cands = vecs.filter(_._1 != 0L)
      var sel = Vector.empty[Long]
      val byId = vecs.toMap
      while (sel.size < k) {
        val next = cands.filterNot(c => sel.contains(c._1)).map { case (id, v) =>
          val pen = if (sel.isEmpty) 0.0
            else sel.map(s => cos(v, byId(s))).max
          (id, lam * cos(v, q) - (1.0 - lam) * pen)
        }.maxBy { case (id, s) => (s, -id) }
        sel :+= next._1
      }
      val got = graft.pipeline.Similarity.mmrTopK(emb, "embedding", "vec_id",
        0L, k, lam).collect().map(_.getLong(1)).toSeq
      assert(got == sel, s"round $round (k=$k lam=$lam): $got vs $sel")
    }
  }

  test("mmr stops at corpus size when k exceeds it") {
    import spark.implicits._
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = graft.pipeline.Similarity.mmrTopK(emb, "embedding", "vec_id", 0L,
      k = 5, lambda = 0.7)
    assert(out.count() == 1)
  }

  // ------------------------------------------------------------ t25 query

  test("t25 redaction query: every row redacts the planted identifiers") {
    val out = SparkEntry.queries("t25_pii_redaction")(spark, SparkFixture.sfDir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val scrubbed = r.getString(1)
      val n = r.getLong(2)
      // the augmentation plants an email, an IP, and an SSN per doc
      assert(n >= 3, s"doc ${r.getLong(0)}: expected >=3 redactions, got $n")
      assert(scrubbed.contains("<EMAIL>") && scrubbed.contains("<IP>") &&
        scrubbed.contains("<SSN>"), s"placeholders missing: $scrubbed")
      assert(!scrubbed.contains("@example.com"), "email survived the scrub")
    }
  }

  // --------------------------------------------------------------- BmpCodec

  private def px(b: Int, g: Int, r: Int) = (b.toByte, g.toByte, r.toByte)

  test("bmp roundtrip: dims, channel means, top-left pixel") {
    // 3x2 image, distinct channels
    val pixels = Array(
      px(10, 20, 30), px(40, 50, 60), px(70, 80, 90),
      px(100, 110, 120), px(130, 140, 150), px(160, 170, 180))
    val bytes = Multimodal.BmpCodec.encodeBgr24(pixels, 3, 2)
    // stride for width 3 = 12 (3*3=9 padded to 12)
    assert(bytes.length == 54 + 12 * 2)
    val info = Multimodal.BmpCodec.decode(bytes)
    assert(info.width == 3 && info.height == 2 && info.bitsPerPixel == 24)
    assert(info.nPixels == 6)
    assert(info.topLeftB == 10, "top-left must come from the LAST stored row")
    assert(math.abs(info.meanB - (10 + 40 + 70 + 100 + 130 + 160) / 6.0) < 1e-12)
    assert(math.abs(info.meanG - (20 + 50 + 80 + 110 + 140 + 170) / 6.0) < 1e-12)
    assert(math.abs(info.meanR - (30 + 60 + 90 + 120 + 150 + 180) / 6.0) < 1e-12)
  }

  test("bmp decode honors top-down (negative height) files") {
    val pixels = Array(px(1, 0, 0), px(2, 0, 0)) // 1x2: top pixel b=1
    val bytes = Multimodal.BmpCodec.encodeBgr24(pixels, 1, 2)
    assert(Multimodal.BmpCodec.decode(bytes).topLeftB == 1)
    // flip the sign of biHeight WITHOUT reordering rows: stored row 0
    // (which the bottom-up encoder filled with the BOTTOM pixel, b=2)
    // now IS image row 0
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -2)
    val info = Multimodal.BmpCodec.decode(bytes)
    assert(info.height == 2 && info.topLeftB == 2,
      "negative height must flip the row walk")
  }

  test("bmp decode rejects bad magic, truncation, and unsupported bpp") {
    val ok = Multimodal.BmpCodec.encodeBgr24(Array(px(5, 5, 5)), 1, 1)
    val badMagic = ok.clone(); badMagic(0) = 'X'.toByte
    assertThrows[IllegalArgumentException](Multimodal.BmpCodec.decode(badMagic))
    assertThrows[IllegalArgumentException](
      Multimodal.BmpCodec.decode(ok.take(53)))
    val bad16 = ok.clone()
    java.nio.ByteBuffer.wrap(bad16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(28, 16)
    assertThrows[IllegalArgumentException](Multimodal.BmpCodec.decode(bad16))
    val rle = ok.clone()
    java.nio.ByteBuffer.wrap(rle).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(30, 1) // BI_RLE8
    assertThrows[IllegalArgumentException](Multimodal.BmpCodec.decode(rle))
  }

  // ------------------------------------------------------------ seeded fuzz

  test("semDedup fuzz: 15 random corpora match a brute-force reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed8001L)
    for (round <- 0 until 15) {
      val n = 20 + rnd.nextInt(40)
      val dim = 4 + rnd.nextInt(8)
      val k = 2 + rnd.nextInt(4)
      val tau = 0.3 + rnd.nextDouble() * 0.6
      val vecs = Array.tabulate(n)(i =>
        (i.toLong, Array.fill(dim)((rnd.nextGaussian()).toFloat)))
      val emb = vecs.toSeq.toDF("vec_id", "embedding")

      // in-JVM reference with the same double arithmetic
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val seeds = vecs.take(k) // ids are 0..n-1 in order
      val cell = vecs.map { case (id, v) =>
        // argmax by (sim desc, cell asc)
        id -> seeds.map { case (cid, sv) => (cos(v, sv), cid) }
          .maxBy { case (s, cid) => (s, -cid) }._2
      }.toMap
      val byId = vecs.toMap
      val expectDrop = (for {
        (ida, _) <- vecs; (idb, _) <- vecs
        if ida < idb && cell(ida) == cell(idb) &&
          cos(byId(ida), byId(idb)) >= tau
      } yield idb).toSet

      val got = Clustering.semDedup(emb, "embedding", "vec_id", k, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(got.length == n, s"round $round: row count")
      got.foreach { case (id, c, keep) =>
        assert(c == cell(id), s"round $round: cell of $id")
        assert(keep == !expectDrop(id), s"round $round: keep of $id (k=$k tau=$tau)")
      }
    }
  }

  test("bigram logprob fuzz: 15 random corpora match an exact reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed8002L)
    val vocab = Array("a", "b", "c", "dd", "ee", "f")
    for (round <- 0 until 15) {
      val docs = (0 until 10 + rnd.nextInt(20)).map { i =>
        val len = rnd.nextInt(12) // 0/1-token docs excluded by design
        (i.toLong, Array.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      // reference
      val bigrams = docs.flatMap { case (id, t) =>
        val ts = t.split(" ").filter(_.nonEmpty)
        ts.sliding(2).filter(_.length == 2).map(p => (id, p(0), p.mkString(" ")))
      }
      val c12 = bigrams.groupBy(_._3).view.mapValues(_.size).toMap
      val c1 = bigrams.groupBy(_._2).view.mapValues(_.size).toMap
      val expect = bigrams.groupBy(_._1).view.mapValues { bs =>
        val logs = bs.map(b => math.log(c12(b._3).toDouble / c1(b._2)))
        (bs.size.toLong, BigDecimal(logs.sum / bs.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toMap
      val got = TextAnalysis.bigramLogProb(df, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got.keySet == expect.keySet, s"round $round: doc set")
      expect.foreach { case (id, (nb, lp)) =>
        assert(got(id)._1 == nb, s"round $round: n_bigrams of $id")
        assert(math.abs(got(id)._2 - lp) < 1e-9, s"round $round: mean_logp of $id")
      }
    }
  }

  test("ngram novelty fuzz: 15 random corpora match an exact reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed8003L)
    val vocab = Array("x", "y", "z", "w")
    for (round <- 0 until 15) {
      val n = 3
      val docs = (0 until 8 + rnd.nextInt(15)).map { i =>
        val len = rnd.nextInt(10)
        (i.toLong, Array.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val shingleSets = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).sliding(n)
          .filter(_.length == n).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      val firstSeen = shingleSets.flatMap { case (id, ss) => ss.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val expect = shingleSets.map { case (id, ss) =>
        val novel = ss.count(s => firstSeen(s) == id)
        id -> ((ss.size.toLong, novel.toLong))
      }.toMap
      val got = TextAnalysis.ngramNovelty(df, "text", "doc_id", n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expect, s"round $round")
    }
  }

  test("resizeBmp: nearest-neighbor map, downsample and upsample") {
    import spark.implicits._
    // 2x2 source with distinct blues: (10 20 / 30 40)
    val src = Multimodal.BmpCodec.encodeBgr24(
      Array(px(10, 0, 0), px(20, 0, 0), px(30, 0, 0), px(40, 0, 0)), 2, 2)
    val media = Seq((1L, src)).toDF("sample_id", "payload")
    // downsample to 1x1: src pixel (0*2/1? -> floor(0*2/1)=0, 0) = 10
    val down = Multimodal.decodeBmp(
      Multimodal.resizeBmp(media, 1, 1)).head()
    assert(down.width == 1 && down.height == 1 && down.mean_b == 10.0)
    // upsample to 4x4: each source pixel replicated 2x2 -> mean unchanged
    val up = Multimodal.decodeBmp(
      Multimodal.resizeBmp(media, 4, 4)).head()
    assert(up.width == 4 && up.height == 4)
    assert(up.mean_b == 25.0, s"replicated mean should equal source: ${up.mean_b}")
    assert(up.top_left_b == 10, "top-left must stay top-left through resize")
  }

  test("resampleWav: decimation keeps every k-th sample, upsample repeats") {
    import spark.implicits._
    val src = Multimodal.WavCodec.encodePcm16(
      Array[Short](10, 20, 30, 40, 50, 60, 70, 80), 8000)
    val media = Seq((1L, src)).toDF("sample_id", "payload")
    val down = Multimodal.WavCodec.decodeSamples(
      Multimodal.resampleWav(media, 2000).head().getAs[Array[Byte]]("payload"))
    assert(down._1 == 2000 && down._3.toSeq == Seq[Short](10, 50))
    val up = Multimodal.WavCodec.decodeSamples(
      Multimodal.resampleWav(media, 16000).head().getAs[Array[Byte]]("payload"))
    assert(up._1 == 16000 && up._3.length == 16)
    assert(up._3.toSeq == Seq[Short](10, 10, 20, 20, 30, 30, 40, 40,
      50, 50, 60, 60, 70, 70, 80, 80))
    // stereo input must be rejected, not silently mis-mapped
    val stereo = Multimodal.WavCodec.encodePcm16(
      Array[Short](1, 2, 3, 4), 8000, channels = 2)
    val sMedia = Seq((2L, stereo)).toDF("sample_id", "payload")
    assertThrows[org.apache.spark.SparkException](
      Multimodal.resampleWav(sMedia, 4000).collect())
  }

  test("textAsBmp/decodeBmp distributed roundtrip matches byte math") {
    import spark.implicits._
    val docs = Seq((7L, "Hello BMP world"), (8L, "x")).toDF("doc_id", "text")
    val out = Multimodal.decodeBmp(
        Multimodal.textAsBmp(docs, "doc_id", "text", width = 10))
      .collect().map(f => f.sample_id -> f).toMap
    val t7 = "Hello BMP world".getBytes("UTF-8").map(_ & 0xff)
    val h7 = (t7.length + 9) / 10
    val n7 = 10L * h7
    assert(out(7L).width == 10 && out(7L).height == h7)
    assert(out(7L).n_bytes == 54 + 32 * h7, "stride 32 for width 10")
    assert(out(7L).n_pixels == n7)
    assert(math.abs(out(7L).mean_b - t7.map(_.toLong).sum.toDouble / n7) < 1e-12)
    assert(math.abs(out(7L).mean_g - t7.map(255L - _).sum.toDouble / n7) < 1e-12)
    assert(math.abs(out(7L).mean_r - t7.map(v => (v * 2L) % 256).sum.toDouble / n7) < 1e-12)
    assert(out(7L).top_left_b == 'H'.toInt)
    // single byte -> one row of 10 pixels, 9 of them zero pads
    assert(out(8L).height == 1 && out(8L).n_pixels == 10)
    assert(math.abs(out(8L).mean_b - 'x'.toInt / 10.0) < 1e-12)
  }
}
