package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-smoke: synthesize an N× corpus from sf0.1 (id-offset unions
  * with light text perturbation so duplicates don't explode
  * quadratically) and time the heavy pipeline operators at 1× vs N×.
  *
  * The point is the GROWTH RATE, not the absolute numbers: the
  * inverted-index dedup, clustering, and chunk dedup are designed to
  * scale near-linearly in corpus size (digest-keyed shuffles, capped
  * posting lists, map-only assignment). A quadratic regression shows
  * up here as a >>N× wall-clock ratio long before it takes down a
  * real cluster. Run manually:
  *
  *   sbt "runMain graft.tools.ScaleSmoke 10"
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map { a =>
      scala.util.Try(a.toInt).getOrElse(sys.error(
        s"first arg must be the replication factor (an int), got '$a' — " +
          "usage: ScaleSmoke <factor> [label,label,...]"))
    }.getOrElse(10)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // optional second arg: comma-separated label substrings — time
    // only matching rows (fast iteration on newly added operators)
    val only: Seq[String] = args.drop(1).headOption
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    // same env conventions as graft.Bench
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.EngineConf.local(cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs1 = spark.read.parquet(s"$sf/documents.parquet")
    val emb1 = spark.read.parquet(s"$sf/embeddings.parquet")
    val events1 = graft.Tables.events(spark, sf)
    val nDocs = docs1.count()
    val nEmb = emb1.count()

    // N copies with disjoint ids (offset = max(id)+1 so copies never
    // collide whatever the id range); copies >0 get a per-copy token
    // prefix so cross-copy texts aren't verbatim duplicates (a pure
    // union of identical texts would measure the pair-explosion of a
    // pathological 100%-duplicate corpus, not scaling)
    def timesN(df: DataFrame, idCol: String, textCol: Option[String]): DataFrame = {
      val offset = df.agg(max(col(idCol))).head().getLong(0) + 1L
      (0 until factor).map { c =>
        val base = df.withColumn(idCol, col(idCol) + lit(c.toLong * offset))
        textCol match {
          case Some(t) if c > 0 =>
            base.withColumn(t, concat(lit(s"copy$c "), col(t)))
          case _ => base
        }
      }.reduce(_ unionAll _)
    }

    val parts = cpus.toInt
    val docsN = timesN(docs1, "doc_id", Some("text")).repartition(parts)
    val embN = timesN(emb1, "vec_id", None).repartition(parts)
    // events keep their user_id keys across copies (N× rows per key —
    // the realistic densification stress for the keyed temporal ops)
    // but each copy is shifted 400 days so copies don't cross-match in
    // the range join: pair structure stays per-copy, growth measures
    // scaling rather than a constructed pair explosion
    val eventsN = {
      val offset = events1.agg(max(col("event_id"))).head().getLong(0) + 1L
      (0 until factor).map { c =>
        events1
          .withColumn("event_id", col("event_id") + lit(c.toLong * offset))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${c * 400} DAYS"))
      }.reduce(_ unionAll _).repartition(parts)
    }
    // arithmetic, not a count(): materializing the Nx corpus here
    // would be evicted by the 1x run's clearCache and rebuilt anyway
    println(s"[scale-smoke] docs ${nDocs} -> ${nDocs * factor}, " +
      s"emb ${nEmb} -> ${nEmb * factor} (${factor}x)")

    def time(name: String)(f: => Long): Unit = {
      if (only.nonEmpty && !only.exists(name.contains)) return
      val t0 = System.nanoTime()
      val rows = f
      val secs = "%8.2f".formatLocal(java.util.Locale.ROOT,
        (System.nanoTime() - t0) / 1e9)
      println(f"[scale-smoke] $name%-28s $secs s  ($rows rows)")
    }

    def run(label: String, docs: DataFrame, emb: DataFrame,
        events: DataFrame, semK: Int): Unit = {
      println(s"--- $label ---")
      // pin THIS run's inputs so every operator times against cached
      // frames; released at run end (the next run pins its own)
      docs.cache().count(); emb.cache().count(); events.cache().count(): Unit
      time("d01 exactGroups") {
        graft.pipeline.Dedup.exactGroups(docs, "text", "doc_id").count() }
      time("d02 ngramJaccard (capped)") {
        graft.pipeline.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          n = 3, threshold = 0.9).count() }
      time("d03 minHashLsh") {
        graft.pipeline.Dedup.minHashLsh(docs, "text", "doc_id",
          shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.8).count() }
      time("d09 duplicatedChunks") {
        graft.pipeline.Dedup.duplicatedChunks(docs, "text", "doc_id", 20, 20).count() }
      time("s07 clusterReport k=8") {
        graft.pipeline.Clustering.clusterReport(emb, "embedding", "vec_id", 8).count() }
      // SemDeDup total work is O(N·k) assignment + O(N²/k) pairs,
      // minimized at k ≈ √N → O(N^1.5): the caller passes k ∝ √factor,
      // so the expected wall ratio at 10× data is ~√10·10 ≈ 31× of the
      // 1× PAIR term but ~10× of wall when assignment dominates —
      // super-linear but far from quadratic, the algorithm's
      // documented trade (k ∝ N would turn assignment itself
      // quadratic; measured 21× at 10× data before this schedule)
      time(s"d14 semDedup k=$semK") {
        graft.pipeline.Clustering.semDedup(emb, "embedding", "vec_id",
          semK, 0.4).where(!col("keep")).count() }
      // blocked near-dup pairs (d05's declared path): same O(N·k +
      // N²/k) schedule as semDedup — the brute-force all-pairs leg is
      // deliberately NOT timed at N× (it IS the quadratic blow-up the
      // blocking removes)
      time(s"d05 nearDupsBlocked k=$semK") {
        graft.pipeline.Dedup.embeddingNearDupsBlocked(emb, "embedding",
          "vec_id", 0.4, semK).count() }
      // degenerate corpus: every vector shares one dominant direction
      // -> ONE cell swallows everything and pair work is quadratic.
      // The maxCell anchor cap is the guard; fixed 4000-vector slice
      // so the flat/capped gap is comparable across labels
      locally {
        val hot = emb.limit(4000).withColumn("embedding",
          transform(col("embedding"),
            (x, i) => when(i === 0, lit(10.0f)).otherwise(x * lit(0.1f))))
          .cache()
        hot.count(): Unit
        time("semDedup one-hot-cell flat") {
          graft.pipeline.Clustering.semDedup(hot, "embedding", "vec_id",
            8, 0.9).where(!col("keep")).count() }
        time("semDedup one-hot-cell cap=64") {
          graft.pipeline.Clustering.semDedup(hot, "embedding", "vec_id",
            8, 0.9, Some(64)).where(!col("keep")).count() }
        hot.unpersist(): Unit
      }
      // the filter forces the projection: a bare select().count()
      // lets Catalyst PRUNE the scored expression and time the scan
      time("t02-style quality scan") {
        docs.select(graft.pipeline.TextAnalysis.qualityScore(col("text")).as("q"))
          .where(col("q") >= 0.0).count() }
      time("t15 tokenEntropy") {
        graft.pipeline.TextAnalysis.tokenEntropy(docs, "text", "doc_id").count() }
      time("t10 sourceMix") {
        graft.pipeline.Sampling.sourceMix(docs, "source", "doc_id",
          (0 until 20).map(i => s"src$i" -> (8, 2)).toMap).count() }
      time("q58 asofJoin clicks<-errors") {
        val clicks = events.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val errors = events.where(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"), col("ts"),
            col("value").as("err_value"))
        graft.ops.TemporalJoins.asofJoin(clicks, errors, "user_id", "ts", "ts",
          Seq("err_value", "err_id"), rightOrd = Some("err_id")).count() }
      // skew stress: 90% of events forced onto ONE user. The plain
      // merge-trick as-of serializes that key on a single reducer; the
      // bucketed variant splits it across (key, day-bucket) partitions
      // — the wall-clock gap here is the bounded-reducer proof
      locally {
        val hot = events.withColumn("user_id",
          when(col("event_id") % 10 < 9, lit(777777L)).otherwise(col("user_id")))
        val clicksH = hot.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("tsm"), col("value"))
        val errorsH = hot.where(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"),
            unix_micros(col("ts")).as("tsm"), col("value").as("err_value"))
        val dayMicros = 24L * 3600L * 1000000L
        time("asofJoin 90%-one-key (flat)") {
          graft.ops.TemporalJoins.asofJoin(clicksH, errorsH, "user_id",
            "tsm", "tsm", Seq("err_value", "err_id"),
            rightOrd = Some("err_id")).count() }
        time("asofJoinSkewed 90%-one-key") {
          graft.ops.TemporalJoins.asofJoinSkewed(clicksH, errorsH, "user_id",
            "tsm", "tsm", Seq("err_value", "err_id"), bucketWidth = dayMicros,
            rightOrd = Some("err_id")).count() }
      }
      time("d10 incremental dedup (1% batch)") {
        graft.pipeline.Dedup.incrementalNearDupPairs(
          docs.where(col("doc_id") % 100 === 0),
          docs.where(col("doc_id") % 100 =!= 0),
          "text", "doc_id").count() }
      time("t18-style quality gate") {
        val base = docs.select(col("doc_id"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        val rep = graft.pipeline.TextAnalysis.repetitionStats(
          docs, "text", "doc_id", n = 2).select(col("id").as("doc_id"),
          col("repetition_ratio"))
        base.join(rep, Seq("doc_id"))
          .where(col("n_tokens") >= 20 && col("repetition_ratio") < 0.2)
          .count() }
      time("t19 unigramLogProb") {
        graft.pipeline.TextAnalysis.unigramLogProb(
          docs, "text", "doc_id").count() }
      time("t29 nbQualityScore") {
        graft.pipeline.TextAnalysis.nbQualityScore(
          docs, "text", "doc_id", col("lang") === "en").count() }
      time("t30 importanceWeights") {
        graft.pipeline.TextAnalysis.importanceWeights(
          docs, "text", "doc_id", col("source") === "src0").count() }
      time("t31 kneserNeyLogProb") {
        graft.pipeline.TextAnalysis.kneserNeyLogProb(
          docs, "text", "doc_id").count() }
      // span coverage on the xxhash64 scale path: window-keyed posting
      // exchange + doc-keyed interval union, both near-linear
      time("d16 spanCoverage k=6") {
        graft.pipeline.Dedup.spanCoverage(docs, "text", "doc_id", k = 6).count() }
      // bloom probe is map-side (literal bitset); cost ~ one shingle
      // scan + doc-keyed agg regardless of benchmark size
      time("t32 bloomContamination (1% bench)") {
        graft.pipeline.Decontaminate.bloomContamination(
          docs.where(col("doc_id") % 100 =!= 0),
          docs.where(col("doc_id") % 100 === 0),
          "text", "doc_id", n = 3, mBits = 65536, kHash = 3).count() }
      time("s12 pqEncode m=16") {
        val books = graft.pipeline.Pq.trainCodebooks(emb, "embedding",
          "vec_id", m = 16, ksub = 16, iters = 2, maxTrainRows = 10000)
        graft.pipeline.Pq.encode(emb, "embedding", books).count() }
      time("t17 hashSplit") {
        graft.pipeline.Sampling.hashSplit(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).count() }
      time("q64 cohortRetention") {
        graft.ops.EventAnalytics.cohortRetention(events, "user_id", "ts").count() }
      time("q65 trailingWindowStats 7d") {
        graft.ops.EventAnalytics.trailingWindowStats(events, "user_id", "ts",
          "value", 7L * 24 * 3600 * 1000000L).count() }
      time("q59 rangeJoin 10min windows") {
        val clicks = events.where(col("event_type") === "click")
          .select(col("event_id"), unix_micros(col("ts")).as("pt"))
        val errors = events.where(col("event_type") === "error")
          .select(unix_micros(col("ts")).as("lo"),
            (unix_micros(col("ts")) + lit(600000000L)).as("hi"))
        graft.ops.TemporalJoins.rangeJoin(clicks, errors,
          "pt", "lo", "hi", 600000000L).count() }
      // chunk removal: two linear passes (hash df, rebuild) — wall
      // should track corpus size; the rebuild join moves no text. The
      // length filter forces the rebuilt text (count() alone prunes it)
      time("d18 dropCommonChunks w=8") {
        graft.pipeline.Dedup.dropCommonChunks(docs, "text", "doc_id",
            chunkTokens = 8, maxDf = 2L)
          .where(length(col("text_kept")) >= 0).count() }
      // span removal: the Lee-et-al rebuild — window hashing + covered
      // positions + position anti-join, all linear in token count
      time("d20 dropDuplicatedSpans k=6") {
        graft.pipeline.Dedup.dropDuplicatedSpans(docs, "text", "doc_id",
            k = 6, minOccurs = 2)
          .where(length(col("text_kept")) >= 0).count() }
      // recall audit ON A 10% SLICE — the operator's own protocol: the
      // exact leg's uncapped posting lists go quadratic on hot
      // shingles (the N× replica construction makes every cross-copy
      // shingle hot, and a full-corpus run here measured minutes);
      // the audit samples, the LSH leg is what runs on everything
      time("d19 lshRecallReport (10% slice)") {
        graft.pipeline.Dedup.lshRecallReport(
          docs.where(col("doc_id") % 10 === 0), "text", "doc_id",
          shingleN = 3, numHashes = 8, bands = 4, floor = 0.5).count() }
      // PMI: one bigram-pair exchange; marginals re-read the cached
      // distinct-bigram frame, which is vocab²-bounded not corpus-bound
      time("t35 pmiCollocations") {
        graft.pipeline.TextAnalysis.pmiCollocations(docs, "text",
          k = 30, minCount = 5L).count() }
      // vocab overlap: distinct (group, hash) pairs + bucket-local
      // self-join — bounded by vocab × groups, so N× data with the
      // same vocab should be near-FLAT after the distinct pass
      time("t36 vocabOverlap") {
        graft.pipeline.TextAnalysis.vocabOverlap(docs, "text", "source").count() }
      // map-only kernel — the flattest line in the table by design
      time("s23 randomProject 64->16") {
        graft.pipeline.Similarity.randomProject(emb, "embedding", "vec_id",
          dim = 64, outDim = 16).count() }
      // capped pair graph + closure + ids-only corpus join
      time("d22 softDedupWeights") {
        graft.pipeline.Dedup.softDedupWeights(docs, "text", "doc_id",
          n = 3, threshold = 0.5).count() }
      // quantile agg (group-cardinality) + one shared window exchange
      time("t37 normalizeScores") {
        val scored = docs.select(col("doc_id"),
          col("source"), length(col("text")).cast("double").as("sc"))
        graft.pipeline.TextAnalysis.normalizeScores(scored, "source", "sc",
          "doc_id").count() }
      // map-only codegen scans: must grow linearly with zero shuffle
      time("t41 nfcReport") {
        graft.pipeline.TextAnalysis.nfcReport(docs, "text", "doc_id").count() }
      time("t42 readability") {
        graft.pipeline.TextAnalysis.readability(docs, "text", "doc_id").count() }
      // broadcast queries, one corpus scan regardless of query count
      time("s25 rangeSearch 8q") {
        val qs = emb.orderBy(col("vec_id")).limit(8)
        graft.pipeline.Similarity.rangeSearch(emb, qs,
          "embedding", "vec_id", "vec_id", minCos = 0.25).count() }
      // codec mapPartitions + 64-bit hash shuffle (not image bytes)
      time("m10 perceptualHash + banded pairs") {
        val hashes = graft.pipeline.Multimodal.perceptualHash(
          graft.pipeline.Multimodal.textAsBmp(
            docs.where(octet_length(col("text")) > 0), "doc_id", "text", 10)).toDF()
        graft.pipeline.Multimodal.phashDupPairs(hashes, maxHamming = 3).count() }
      // one corpus word-frequency exchange; rounds run on the vocab
      time("t44 bpeMerges k=8") {
        graft.pipeline.TextAnalysis.bpeMerges(docs, "text", 8).count() }
      // per-frame codec scan + one sample-keyed lag window
      time("m12 frame phash + static flags") {
        graft.pipeline.Multimodal.staticFrameFlags(
          graft.pipeline.Multimodal.framePerceptualHash(
            graft.pipeline.Multimodal.textAsAvi(
              docs.where(octet_length(col("text")) > 0), "doc_id", "text")).toDF(),
          maxHamming = 3).count() }
      // induce once (vocab rounds), then ONE map-only encode pass —
      // the pass that IS the corpus-sized job at 100 TB
      time("t45 bpeEncode (induce+apply)") {
        val merges = graft.pipeline.TextAnalysis.bpeMerges(docs, "text", 8)
          .orderBy(col("round")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.pipeline.TextAnalysis.bpeEncode(docs, "text", "doc_id", merges)
          .count() }
      // same one map-only encode pass + a source-keyed scalar rollup
      time("t54 bpeRoundTripAudit") {
        val merges = graft.pipeline.TextAnalysis.bpeMerges(docs, "text", 8)
          .orderBy(col("round")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.pipeline.TextAnalysis.bpeRoundTripAudit(docs, "text", "source",
          merges).collect().length.toLong }
      // pure hash-math projection, no shuffle
      time("t46 mlmMask") {
        graft.pipeline.TextAnalysis.mlmMask(docs, "text", "doc_id")
          .where(col("n_masked") >= 0L).count() }
      // one (source, token) partial agg; everything after vocab-sized
      time("t47 sourceKlReport") {
        graft.pipeline.TextAnalysis.sourceKlReport(docs, "text", "source")
          .count() }
      // digest-count matrix: corpus work is one chunk-hash agg
      time("d23 crossSourceDups chunks") {
        graft.pipeline.Dedup.crossSourceDups(docs, "text", "source",
          chunkTokens = Some(20)).count() }
      // real DEFLATE encode+decode per doc, mapPartitions-local
      time("m13 png roundtrip") {
        graft.pipeline.Multimodal.decodePng(
          graft.pipeline.Multimodal.textAsPng(
            docs.where(octet_length(col("text")) > 0), "doc_id", "text", 10))
          .count() }
      // quantized scan + shortlist-bounded exact leg
      time("s27 sq8 rerank 50->10") {
        graft.pipeline.Quantize.rerankedTopK(emb, "embedding", "vec_id",
          queryId = 0L, k = 10, shortlist = 50, lo = -2.0, hi = 2.0).count() }
      // exact Jaccard confined to the banded-candidate sliver
      time("d24 lshVerifiedPairs") {
        graft.pipeline.Dedup.lshVerifiedPairsMd5(docs, "text", "doc_id",
          threshold = 0.3).count() }
      // codec scan + per-doc weighted-sum folds, no shuffle
      time("m14 wav dft energy") {
        graft.pipeline.Multimodal.wavDftEnergy(
          graft.pipeline.Multimodal.textAsWav(
            docs.where(octet_length(col("text")) > 0), "doc_id", "text"),
          dftBins = Seq(1, 5)).count() }
      // Levenshtein DP confined to the banded-candidate sliver — the
      // d24 shape with a quadratic-in-LENGTH verifier; growth tracks
      // the candidate count, not the corpus square
      time("d25 lshEditVerifiedPairs") {
        graft.pipeline.Dedup.lshEditVerifiedPairs(docs, "text", "doc_id",
          threshold = 0.95).count() }
      // ONE normal-equation partial agg + broadcast map-only scoring;
      // must grow linearly with corpus size
      time("t48 ridgeQualityScore") {
        graft.pipeline.TextAnalysis.ridgeQualityScore(docs, "text",
          "doc_id", col("lang") === "en").count() }
      // frame energies inside the codec mapPartitions; threshold +
      // islands share one sample-keyed exchange of 24-byte quads
      time("m15 vadSegments") {
        graft.pipeline.Multimodal.vadSegments(
          graft.pipeline.Multimodal.textAsWav(
            docs.where(octet_length(col("text")) > 0), "doc_id", "text"),
          frameLen = 64, minFrames = 2).count() }
      // boundaries/slices/digests all scan-side; (fp, len) shuffles
      time("d26 cdcChunkDedup") {
        graft.pipeline.Dedup.cdcChunkDedup(docs, "text", "doc_id").count() }
      // one global running-sum window — the documented exact contract
      time("t49 tokenBudgetSelect") {
        graft.pipeline.Sampling.tokenBudgetSelect(docs, "text", "doc_id",
          budget = 5000L * factor).count() }
      // decode + stats in one mapPartitions, zero exchanges
      time("m16 audioQualityReport") {
        graft.pipeline.Multimodal.audioQualityReport(
          graft.pipeline.Multimodal.textAsWav(
            docs.where(octet_length(col("text")) > 0), "doc_id", "text"))
          .count() }
      time("m17 imagePatches 5x5") {
        graft.pipeline.Multimodal.imagePatches(
          graft.pipeline.Multimodal.textAsBmp(
            docs.where(octet_length(col("text")) > 0), "doc_id", "text", 10))
          .count() }
      // d06 closure + cluster-count-sized rollup (capped postings —
      // the uncapped path hard-fails on replica-corpus hot shingles)
      time("d27 dedupImpactReport (capped)") {
        graft.pipeline.Dedup.dedupImpactReport(docs, "text", "doc_id").count() }
      // ONE banding + ONE verify pass (scoped-cached) feed the corpus
      // and the four count legs; collect() (tiny result) dodges
      // count()-elimination of the union legs
      time("d34 dedupPipelineRun") {
        graft.pipeline.Dedup.dedupPipelineRun(docs, "text", "doc_id")
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // corpus scans once with batch shingles broadcast; batch-side
      // pair pass is batch-sized
      time("d35 incrementalDedupRun") {
        val batch = docs.where(col("doc_id") % 10 === 0)
        val corpus = docs.where(col("doc_id") % 10 =!= 0)
        graft.pipeline.Dedup.incrementalDedupRun(batch, corpus,
            "text", "doc_id")
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // the m21/m22/m23 query definitions pin ASCII-only docs
      // (octet_length = char length) on top of non-empty — the smoke
      // must time the same population or multibyte docs outside the
      // operators' pinned semantics skew (or break) the 10x timing
      val asciiDocs = docs.where(octet_length(col("text")) > 0 &&
        octet_length(col("text")) === length(col("text")))
      // decode-stage energies; 16 composite keys/clip, bucket-local join
      time("m21 audioFingerprintPairs") {
        graft.pipeline.Multimodal.audioFingerprintDupPairs(
          graft.pipeline.Multimodal.textAsWav(asciiDocs, "doc_id", "text"))
          .count() }
      // m10/m11's codec + banded pairs + the bounded-probe closure
      time("m23 phashDupClusters") {
        graft.pipeline.Multimodal.phashDupClusters(
          graft.pipeline.Multimodal.perceptualHash(
            graft.pipeline.Multimodal.textAsBmp(asciiDocs, "doc_id", "text", 10))
            .toDF(), maxHamming = 3).count() }
      // m21's pair pass + bounded-probe closure over (id, id) pairs
      time("m22 audioDupClusters") {
        graft.pipeline.Multimodal.audioDupClusters(
          graft.pipeline.Multimodal.textAsWav(asciiDocs, "doc_id", "text"))
          .count() }
      // the composed curation run: m16 gate + m21/m22 pair+closure on
      // survivors + rollups; the gate filters id+energy scalars, one
      // decode pass per stage, payloads never shuffle
      time("m24 audioCurationRun") {
        graft.pipeline.Multimodal.audioCurationRun(
          graft.pipeline.Multimodal.textAsWav(asciiDocs, "doc_id", "text"),
          asciiDocs.select(col("doc_id").as("sample_id"), col("source")),
          maxSilenceRatio = 0.19)
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // ONE decode pass feeds gate + banded pairs; closure on survivors
      time("m25 imageCurationRun") {
        graft.pipeline.Multimodal.imageCurationRun(
          graft.pipeline.Multimodal.textAsBmp(asciiDocs, "doc_id", "text", 10),
          asciiDocs.select(col("doc_id").as("sample_id"), col("source")))
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // d11's pair+closure work + a scan-stage score + one NTILE sort
      time("t57 qualityDedupReport (capped)") {
        graft.pipeline.Dedup.qualityDedupReport(docs, "text", "doc_id")
          .collect().length.toLong }
      // d11's closure + one broadcast contamination join + scan-stage
      // quality; the flag frame feeds every leg of one plan
      time("t58 corpusReleaseRun (capped)") {
        val bench = docs.where(col("doc_id") % 50 === 0)
        val train = docs.where(col("doc_id") % 50 =!= 0)
        graft.pipeline.CorpusRelease.corpusReleaseRun(train, bench,
            "text", "doc_id", "source")
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // pair pass + closure + pair-keyed fidelity rollup
      time("d36 clusterFidelity (capped)") {
        graft.pipeline.Dedup.clusterFidelityReport(docs, "text", "doc_id")
          .count() }
      // one shingle-keyed join (bench broadcast) + train-keyed argmax
      time("t59 contaminationAttribution") {
        graft.pipeline.Decontaminate.contaminationAttribution(
            docs.where(col("doc_id") % 50 =!= 0),
            docs.where(col("doc_id") % 50 === 0), "text", "doc_id")
          .count() }
      // corpus scans once with the val split's shingles broadcast
      time("t60 splitLeakage (capped)") {
        graft.pipeline.Dedup.splitLeakageBySource(
            docs.where(col("doc_id") % 7 =!= 0),
            docs.where(col("doc_id") % 7 === 0),
            "text", "doc_id", "source")
          .count() }
      // decode-stage frame hashes; hash-keyed self-join (capped).
      // Planted extended copies (the declared query's construction):
      // the raw corpus's qualifying pairs are all boilerplate-class
      // hash collisions the cap exists to drop. NOTE the synthetic
      // text-frames are LOW-ENTROPY, so collision posting counts grow
      // with corpus size (unlike real video boilerplate, which is
      // content-driven): at 10x nearly every synthetic frame crosses
      // the default cap and the run reports 0 pairs — the timing row
      // still proves the fan-out stays bounded (the uncapped 10x run
      // measured 388 s; capped ~5 s), and the 1x row proves planted
      // copies are found
      time("m26 videoDupPairs (capped)") {
        val un = asciiDocs.select(col("doc_id"), col("text")).unionByName(
          asciiDocs.select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), lit("x")).as("text")))
        graft.pipeline.Multimodal.videoDupPairs(
          graft.pipeline.Multimodal.framePerceptualHash(
            graft.pipeline.Multimodal.textAsAvi(un, "doc_id", "text"))
            .toDF())
          .count() }
      // d11's pair+closure work + one token-count scan
      time("t55 dedupTokenBudget (capped)") {
        graft.pipeline.Dedup.dedupTokenBudgetReport(docs, "text",
          "doc_id", "source").collect().length.toLong }
      // d11's closure + a |sources|-row weight rollup
      time("t56 dedupTemperatureMix (capped)") {
        graft.pipeline.Sampling.temperatureWeights(
          graft.pipeline.Dedup.dedupedCorpus(docs, "text", "doc_id"),
          "source", 0.5).collect().length.toLong }
      // two map-only assignments + k-row rollups
      time("s34 cellDriftReport") {
        graft.pipeline.Clustering.cellDriftReport(
          emb.where(col("vec_id") % 10 =!= 0),
          emb.where(col("vec_id") % 10 === 0),
          "embedding", "vec_id", 8).collect().length.toLong }
      // d11's pair+closure work + a scan-stage quality projection and
      // a per-cluster argmax window (partitions are cluster-sized)
      time("d37 dedupKeepBest (capped)") {
        graft.pipeline.Dedup.dedupedCorpusKeepBest(docs, "text",
          "doc_id", "source").count() }
      // ONE corpus scan to |tiers| rows; the water-filling windows
      // run on that tiny frame — growth is the scan alone
      time("t61 budgetAllocation") {
        graft.pipeline.Sampling.budgetAllocation(docs, "source", "text",
          budget = 15000L).collect().length.toLong }
      // induce once (vocab rounds), then ONE map-only projection
      // computing langid + encode together; |languages|-row rollup
      time("t62 tokenizerFertility (induce+apply)") {
        val merges = graft.pipeline.TextAnalysis.bpeMerges(docs, "text", 8)
          .orderBy(col("round")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.pipeline.TextAnalysis.tokenizerFertilityByLang(docs, "text",
          merges).collect().length.toLong }
      // one map-only assignment + a (cell, dim)-keyed partial agg
      // (n×dim tiny rows in, k×dim groups out) + k×dim broadcast join
      time("s36 centroidRefresh") {
        graft.pipeline.Clustering.centroidRefresh(emb, "embedding",
          "vec_id", 8).collect().length.toLong }
      // d02's capped pair pass; strings only on the df rollup and the
      // pair-restricted evidence sliver; top-k via WindowGroupLimit
      time("d39 pairEvidence (capped)") {
        graft.pipeline.Dedup.pairEvidence(docs, "text", "doc_id",
          n = 3, threshold = 0.3).count() }
      // the sweep's one corpus scan; the verdict is a 4-row sort
      time("s39 sqBitsDecision") {
        graft.pipeline.Quantize.bitsDecision(emb, "embedding",
          lo = -2.0, hi = 2.0, targetMse = 0.001).collect().length.toLong }
      // d35's corpus-scans-once shape + the t58 contamination/quality
      // legs over the batch-sized flag frame
      time("t65 incrementalRelease (capped)") {
        graft.pipeline.CorpusRelease.incrementalReleaseRun(
            docs.where(col("doc_id") % 7 === 0 && col("doc_id") % 50 =!= 0),
            docs.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 50 =!= 0),
            docs.where(col("doc_id") % 50 === 0),
            "text", "doc_id", "source")
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // d02's inverted index + one shingle-keyed weight join; the cap
      // drops near-zero-idf shingles (principled, not just a guard)
      time("d38 weightedJaccard (capped)") {
        graft.pipeline.Dedup.weightedJaccardPairs(docs, "text", "doc_id",
          n = 3, threshold = 0.3).count() }
      // ONE map-only assignment+residual+two-kernel projection;
      // m-row rollup
      time("s38 residualPqDistortion") {
        graft.pipeline.Pq.residualDistortionReport(emb, "embedding",
          "vec_id", k = 8, m = 8, ksub = 16).collect().length.toLong }
      // the t58 flag frame grouped 8 ways + an 8-row literal join
      time("t64 dropOverlapMatrix (capped)") {
        graft.pipeline.CorpusRelease.dropOverlapMatrix(
            docs.where(col("doc_id") % 50 =!= 0),
            docs.where(col("doc_id") % 50 === 0),
            "text", "doc_id", "source")
          .collect().length.toLong }
      // t60's broadcast cross-split pair pass + an ids-only flag join
      time("t63 splitLeakageRepair (capped)") {
        graft.pipeline.Dedup.repairLeakedSplit(
            docs.where(col("doc_id") % 7 =!= 0),
            docs.where(col("doc_id") % 7 === 0),
            "text", "doc_id", "source")
          .count() }
      // ONE map-only assignment+sub-error projection; k-row rollup
      time("s37 pqCellDistortion") {
        graft.pipeline.Pq.cellDistortionReport(emb, "embedding",
          "vec_id", k = 8, m = 8, ksub = 16).collect().length.toLong }
      // m26's capped pair pass, then pair-broadcast frame joins and
      // one gaps-and-islands window partitioned by pair
      time("m28 videoCopySpans (capped)") {
        val un = asciiDocs.select(col("doc_id"), col("text")).unionByName(
          asciiDocs.select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), lit("x")).as("text")))
        graft.pipeline.Multimodal.videoCopySpans(
          graft.pipeline.Multimodal.framePerceptualHash(
            graft.pipeline.Multimodal.textAsAvi(un, "doc_id", "text"))
            .toDF())
          .count() }
      // m26's capped pair pass + participation gate + closure +
      // rollups; frame hashes in, payloads never enter the operator
      time("m27 videoCurationRun (capped)") {
        val un = asciiDocs.select(col("doc_id"), col("source"), col("text"))
          .unionByName(asciiDocs.select(
            (col("doc_id") + 10000000L).as("doc_id"), col("source"),
            concat(col("text"), lit("x")).as("text")))
        graft.pipeline.Multimodal.videoCurationRun(
            graft.pipeline.Multimodal.framePerceptualHash(
              graft.pipeline.Multimodal.textAsAvi(un, "doc_id", "text"))
              .toDF(),
            un.select(col("doc_id"), col("source")),
            metaIdCol = "doc_id")
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // df rollup + one id-keyed prefix window + candidate pass; the
      // growth signal is candidates (rare-shingle pairs), not corpus²
      time("d40 prefixFilterPairs (capped)") {
        graft.pipeline.Dedup.prefixFilterPairs(docs, "text", "doc_id",
          n = 3, threshold = 0.8).count() }
      // sub-side prefix × full super postings; same df rollup + one
      // id-keyed prefix window as d40
      time("d41 prefixFilterContainment (capped)") {
        graft.pipeline.Dedup.prefixFilterContainment(docs, "text",
          "doc_id", n = 3, threshold = 0.8).count() }
      // one assignment scan + ids-only tombstone join + k-row rollup
      time("s40 tombstoneCompaction") {
        graft.pipeline.Clustering.tombstoneCompactionReport(emb,
          "embedding", "vec_id", k = 8,
          emb.where(col("vec_id") % 5 === 0).select(col("vec_id")),
          "vec_id", minLiveFrac = 0.8).collect().length.toLong }
      // one score scan + one source-keyed window of scalar triples
      time("t66 percentileGate") {
        graft.pipeline.TextAnalysis.percentileGateBySource(docs, "text",
          "doc_id", "source", topFrac = 0.4, rawThreshold = 0.55)
          .collect().length.toLong }
      // graph legs scale with cells/edges; the exact audit leg is
      // pinned to ~500 sampled queries (the auditMod contract), so
      // wall growth measures the GRAPH side, not the N² audit
      time("s41 nnDescent (sampled audit)") {
        val am = math.max(1L, emb.count() / 500L)
        graft.pipeline.GraphAnn.nnDescentRecallAudit(emb, "embedding",
          "vec_id", kCells = semK, k = 5, auditMod = am)
          .collect().length.toLong }
      // ring init is map-only; each round is edge-keyed self-joins +
      // one rescoring join (≤4·N·k² candidate rows) — rounds capped
      // at 2 so the smoke measures PER-ROUND growth, not corpus-
      // dependent round counts; exact leg sampled like s41
      time("s45 nnDescentConverge (2 rounds)") {
        val am = math.max(1L, emb.count() / 500L)
        graft.pipeline.GraphAnn.nnDescentConverge(emb, "embedding",
          "vec_id", k = 5, auditMod = am, epsilon = 0.0, maxRounds = 2)
          .collect().length.toLong }
      // ONE shared assignment scan feeds all four verdict legs; the
      // over-fetch scoring is queries×corpus (3 queries), the rest
      // are k-row / |bits|-row rollups
      // build = s45's per-round shape; the search touches
      // O(|queries|·beam·degree) vectors per hop — never the corpus
      time("s47 graphBeamSearch") {
        graft.pipeline.GraphAnn.graphBeamSearch(emb, "embedding",
          "vec_id", queryIds = Seq(1L, 2L, 3L), k = 5, beamWidth = 20,
          graphK = 10, buildRounds = 2, hops = 3)
          .collect().length.toLong }
      // search work is batch-bound (|batch|·beam·degree per hop);
      // adoption re-ranks only the touched nodes
      time("s48 graphAppendAudit") {
        val cut = emb.agg(max(col("vec_id"))).head().getLong(0) * 4L / 5L
        graft.pipeline.GraphAnn.graphAppendAudit(
          emb.where(col("vec_id") <= cut), emb.where(col("vec_id") > cut),
          "embedding", "vec_id", graphK = 5, buildRounds = 1,
          beamWidth = 10, hops = 3)
          .collect().length.toLong }
      // persisted-index lifecycle (round 20): the nightly BUILD row
      // grows with the corpus (the s45 per-round shape + one edge
      // write), while the LOADED serve rows stay hop-/batch-bound —
      // the split that makes graph serving viable at 100 TB
      val gidxDir = java.nio.file.Files.createTempDirectory(
        s"graft-smoke-gidx").toFile.getAbsolutePath + "/idx"
      lazy val gidxHandle = graft.pipeline.GraphIndex.build(emb,
        "embedding", "vec_id", gidxDir, graphK = 10, buildRounds = 2)
      // in a RESTRICTED run the s49a row (which owns the build) may
      // be filtered out — force the lazy build before any consumer's
      // timer so serve/dedup rows never bill the nightly (the s53/
      // h48 discipline)
      if (only.nonEmpty && only.exists(o => Seq(
        "s49b graphBeamSearchLoaded", "s50 coarseEntryLoaded",
        "s51 graphDeleteRepairLoaded", "s52 graphSearchWithTombstones",
        "s55 graphRepairWriteBack", "s56 graphSearchTopK",
        "d42 graphSemDedup").exists(_.contains(o)))) { gidxHandle; () }
      time("s49a graphIndex build+persist") {
        spark.read.parquet(s"${gidxHandle.dir}/edges").count() }
      time("s49b graphBeamSearchLoaded") {
        graft.pipeline.GraphAnn.graphBeamSearchLoaded(emb, "embedding",
          "vec_id", gidxHandle, queryIds = Seq(5L, 8L, 13L), k = 5,
          beamWidth = 16, hops = 4).collect().length.toLong }
      time("s50 coarseEntryLoaded") {
        graft.pipeline.GraphAnn.graphBeamSearchLoaded(emb, "embedding",
          "vec_id", gidxHandle, queryIds = Seq(1L, 2L, 3L), k = 5,
          beamWidth = 20, hops = 3, coarseEntryK = Some(16))
          .collect().length.toLong }
      // build OUTSIDE the timer (lazy, forced on first touch): the
      // row must measure the loaded append alone, not the nightly
      lazy val h48 = {
        val cut = emb.agg(max(col("vec_id"))).head().getLong(0) * 4L / 5L
        val d48 = java.nio.file.Files.createTempDirectory(
          s"graft-smoke-gidx48").toFile.getAbsolutePath + "/idx"
        (cut, graft.pipeline.GraphIndex.build(
          emb.where(col("vec_id") <= cut), "embedding", "vec_id", d48,
          graphK = 5, buildRounds = 1))
      }
      time("s51 graphDeleteRepairLoaded") {
        val am = math.max(1L, emb.count() / 500L)
        graft.pipeline.GraphAnn.graphDeleteRepairLoaded(emb, "embedding",
          "vec_id", gidxHandle, emb.where(col("vec_id") % 9 === 5)
            .select(col("vec_id")), "vec_id", auditMod = am)
          .collect().length.toLong }
      time("s52 graphSearchWithTombstones") {
        graft.pipeline.GraphAnn.graphSearchWithTombstones(emb, "embedding",
          "vec_id", gidxHandle, emb.where(col("vec_id") % 9 === 5)
            .select(col("vec_id")), "vec_id", queryIds = Seq(1L, 2L, 3L),
          k = 5, beamWidth = 16, hops = 3)
          .collect().length.toLong }
      // force the lazy c80 build BEFORE either consumer's timer (r21
      // advice: the forcing block used to sit after the s53 timer and
      // condition only on the s48b label, so an unfiltered run billed
      // the index build to the s53 row despite the comment's claim)
      if (only.isEmpty || only.exists(o =>
        "s53 graphMaintenanceRun".contains(o) ||
          "s48b graphAppendAuditLoaded".contains(o))) { h48; () }
      time("s53 graphMaintenanceRun") {
        val am = math.max(1L, emb.count() / 500L)
        val (cut, h) = h48
        graft.pipeline.GraphAnn.graphMaintenanceRun(
          emb.where(col("vec_id") <= cut), emb.where(col("vec_id") > cut),
          "embedding", "vec_id", h,
          emb.where(col("vec_id") % 9 === 5).select(col("vec_id")),
          "vec_id", queryIds = Seq(1L, 2L, 3L), k = 5, beamWidth = 10,
          hops = 3, appendBeamWidth = 10, appendHops = 3, auditMod = am)
          .collect().length.toLong }
      time("s48b graphAppendAuditLoaded") {
        val (cut, h) = h48
        graft.pipeline.GraphAnn.graphAppendAuditLoaded(
          emb.where(col("vec_id") <= cut), emb.where(col("vec_id") > cut),
          "embedding", "vec_id", h, beamWidth = 10, hops = 3)
          .collect().length.toLong }
      // round-21 write-back rows: s54a bills the mutation+persist (a
      // versioned index's nightly ends by writing the new edge
      // table — batch-bound work + one cluster-width rewrite); s54b
      // bills ONLY the lean serve off the already-written version
      // (the lazy-handle discipline h48 uses)
      lazy val wb54 = {
        val (cut, h) = h48
        val d = java.nio.file.Files.createTempDirectory(
          "graft-smoke-gwb54").toFile.getAbsolutePath + "/idx"
        graft.pipeline.GraphAnn.graphAppendWriteBack(
          emb.where(col("vec_id") <= cut), emb.where(col("vec_id") > cut),
          "embedding", "vec_id", h, beamWidth = 10, hops = 3, destDir = d)
      }
      time("s54a graphAppendWriteBack") { wb54.n }
      if (only.isEmpty || only.exists(o =>
        "s54b serveFromWrittenBack".contains(o))) { wb54; () }
      time("s54b serveFromWrittenBack") {
        graft.pipeline.GraphAnn.graphSearchTopK(emb, "embedding",
          "vec_id", wb54, queryIds = Seq(1L, 2L, 3L), k = 5,
          beamWidth = 10, hops = 3).collect().length.toLong }
      time("s55 graphRepairWriteBack") {
        val d = java.nio.file.Files.createTempDirectory(
          "graft-smoke-gwb55").toFile.getAbsolutePath + "/idx"
        val wb = graft.pipeline.GraphAnn.graphRepairWriteBack(emb,
          "embedding", "vec_id", gidxHandle,
          emb.where(col("vec_id") % 9 === 5).select(col("vec_id")),
          "vec_id", destDir = d)
        wb.n }
      time("s56 graphSearchTopK") {
        graft.pipeline.GraphAnn.graphSearchTopK(emb, "embedding",
          "vec_id", gidxHandle, queryIds = Seq(1L, 2L, 3L), k = 5,
          beamWidth = 16, hops = 4).collect().length.toLong }
      // index-accelerated dedup: N·graphK edge rescorings + closure —
      // linear in the corpus, no dedicated pair stage
      time("d42 graphSemDedup") {
        graft.pipeline.GraphAnn.graphSemDedup(emb, "embedding",
          "vec_id", gidxHandle, tau = 0.4).count() }
      time("s46 indexMaintenanceRun") {
        graft.pipeline.Clustering.indexMaintenanceRun(
          emb.where(col("vec_id") % 7 =!= 6), emb.where(col("vec_id") % 7 === 6),
          "embedding", "vec_id", k = 8,
          emb.where(col("vec_id") % 9 === 5).select(col("vec_id")),
          "vec_id", minLiveFrac = 0.89, maxImbalance = 1.5, maxNewFrac = 0.3,
          queryIds = Seq(1L, 2L, 3L), kq = 10, fetchFactor = 2,
          lo = -2.0, hi = 2.0, targetMse = 0.001)
          .collect().length.toLong }
      // one phash decode pass + banded image pairs + list-local
      // caption pairs + a pair-keyed full-outer join
      time("m29 crossModalDupAudit") {
        val samples = asciiDocs.select(col("doc_id").as("sample_id"),
            col("text").as("img_text"), col("text").as("caption"))
          .unionByName(asciiDocs.select(
            (col("doc_id") + 10000000L).as("sample_id"),
            concat(col("text"), lit("x")).as("img_text"),
            concat(col("text"), lit("x")).as("caption")))
          .unionByName(asciiDocs.select(
            (col("doc_id") + 20000000L).as("sample_id"),
            reverse(col("text")).as("img_text"),
            col("text").as("caption")))
        graft.pipeline.Multimodal.crossModalDupAudit(samples,
          "sample_id", "img_text", "caption").count() }
      // corpus scans once, benchmark shingles broadcast (the d10
      // shape) + one pair-keyed argmax rollup
      time("t67 fuzzyDecontamination (capped)") {
        graft.pipeline.Decontaminate.fuzzyContamination(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          "text", "doc_id", "source").count() }
      // banding exchange on BOTH sides (no benchmark broadcast);
      // verify joins move shingle arrays per COLLIDED doc only
      time("t70 fuzzyDecontaminationLsh (capped)") {
        graft.pipeline.Decontaminate.fuzzyContaminationLsh(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          "text", "doc_id", "source").count() }
      // one encode scan reused by all per-query legs + broadcast
      // exact leg over the 3-query batch
      time("s42 adcSdcCompare") {
        graft.pipeline.Pq.adcSdcRecallCompare(emb, "embedding", "vec_id",
          queryIds = Seq(0L, 1L, 2L), k = 10, m = 8, ksub = 16)
          .collect().length.toLong }
      // one phash pass + banded pairs + closure + md5 caption window
      time("m30 pairedReleaseRun") {
        val samples = asciiDocs.select(col("doc_id").as("sample_id"),
            col("text").as("img_text"), col("text").as("caption"),
            col("source"))
          .unionByName(asciiDocs.select(
            (col("doc_id") + 10000000L).as("sample_id"),
            concat(col("text"), lit("x")).as("img_text"),
            concat(col("text"), lit("x")).as("caption"), col("source")))
          .unionByName(asciiDocs.select(
            (col("doc_id") + 20000000L).as("sample_id"),
            reverse(col("text")).as("img_text"), col("text").as("caption"),
            col("source")))
        graft.pipeline.Multimodal.pairedReleaseRun(samples, "sample_id",
            "img_text", "caption", "source")
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // corpus scans once per modality (phash bands, caption digests)
      // with the batch sides BROADCAST; the only closure is batch-sized
      time("m31 incrementalPairedRelease") {
        val corpus = asciiDocs.select(col("doc_id").as("sample_id"),
          col("text").as("img_text"), col("text").as("caption"),
          col("source"))
        val third = asciiDocs.where(col("doc_id") % 3 === 0)
        val batch = third.select(
            (col("doc_id") + 10000000L).as("sample_id"),
            concat(col("text"), lit("x")).as("img_text"),
            concat(col("text"), lit("x")).as("caption"), col("source"))
          .unionByName(third.select(
            (col("doc_id") + 20000000L).as("sample_id"),
            reverse(col("text")).as("img_text"), col("text").as("caption"),
            col("source")))
        graft.pipeline.Multimodal.incrementalPairedRelease(corpus, batch,
            "sample_id", "img_text", "caption", "source")
          .groupBy(col("stage")).agg(count(lit(1)))
          .collect().length.toLong }
      // ONE scored scan (query batch broadcast) feeds all three rank
      // windows; the dead flag is an ids-only join
      time("s43 overfetchDeletes") {
        graft.pipeline.Clustering.overfetchUnderDeletes(emb, "embedding",
          "vec_id", queryIds = Seq(0L, 1L, 2L),
          emb.where(col("vec_id") % 5 === 0).select(col("vec_id")),
          "vec_id", k = 10, fetchFactor = 2).collect().length.toLong }
      // two score scans, a (source, score) rollup, ONE cumulative
      // window over DISTINCT score rows, |sources|-row rollup
      time("t68 qualityDrift") {
        graft.pipeline.TextAnalysis.qualityDriftBySource(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0),
          "text", "source").collect().length.toLong }
      // one assignment scan + cumulative probe cut + cell-confined
      // candidate scoring; the exact leg is the 3-query broadcast
      time("s44 adaptiveNprobe") {
        graft.pipeline.Clustering.adaptiveProbeRecall(emb, "embedding",
          "vec_id", queryIds = Seq(0L, 1L, 2L), k = 10,
          numCells = semK, targetCandidates = 200L)
          .collect().length.toLong }
      // ONE partial-agg corpus scan to |sources| rows; the greedy is
      // |sources|x4 rows of window state
      time("t69 repeatEpochPlan") {
        graft.pipeline.Sampling.repeatEpochPlan(docs, "source", "text",
          budget = 4000000L).collect().length.toLong }
      // (doc,label,token) agg + |classes|-way scoring join
      time("t50 nbLangConfusion") {
        graft.pipeline.TextAnalysis.nbLangConfusion(docs, "text",
          "doc_id", "lang").count() }
      // two batch-scan legs + k-sized audit join
      time("s29 retrievalNdcg 5q") {
        graft.pipeline.Quantize.retrievalNdcg(emb, "embedding", "vec_id",
          emb.filter(col("vec_id") < 5), "vec_id", k = 10,
          lo = -2.0, hi = 2.0).count() }
      // codec scan + one sample-keyed lag/cut/rollup exchange
      time("m18 sceneSegments") {
        graft.pipeline.Multimodal.sceneSegments(
          graft.pipeline.Multimodal.framePerceptualHash(
            graft.pipeline.Multimodal.textAsAvi(
              docs.where(octet_length(col("text")) > 0), "doc_id", "text")).toDF(),
          maxHamming = 3).count() }
      // slot-equality + exact legs both confined to the banded sliver
      time("d28 minHashAccuracyAudit") {
        graft.pipeline.Dedup.minHashAccuracyAudit(docs, "text", "doc_id").count() }
      // |ns| hash-join legs, each one output row
      time("t51 contaminationCurve") {
        graft.pipeline.Decontaminate.contaminationCurve(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          "text", "doc_id", ns = Seq(2, 4, 8)).count() }
      // the whole tuning sweep in one corpus scan (cell-rank trick);
      // collect() — same join-elimination hazard as the d29 row below
      time("s31 recallVsNprobe") {
        graft.pipeline.Ivf.recallVsNprobe(emb, "embedding", "vec_id",
          queryId = 0L, k = 10, numCells = 8, nprobes = Seq(1, 2, 4, 8))
          .collect().length.toLong }
      // one cell-blocked pair pass; sweep is a histogram.
      // collect(), NOT count(): these curve ops end in a left join
      // onto the unique-keyed config list, and count() alone lets the
      // optimizer ELIMINATE the join (row count = |configs| without
      // computing the curve) — a count-timed row measures nothing
      time(s"d29 semDedupThresholdCurve k=$semK") {
        graft.pipeline.Clustering.semDedupThresholdCurve(emb, "embedding",
          "vec_id", semK, thresholds = Seq(0.2, 0.3, 0.4)).collect().length.toLong }
      // map-only assignment + one cell-keyed partial agg
      time("s30 cellBalanceReport k=8") {
        graft.pipeline.Clustering.cellBalanceReport(emb, "embedding",
          "vec_id", k = 8).count() }
      // broadcast queries, one corpus scan, WindowGroupLimit cap
      time("s28 mipsTopKBatch 3q") {
        graft.pipeline.Similarity.mipsTopKBatch(emb,
          emb.filter(col("vec_id") < 3), "embedding", "vec_id", "vec_id",
          k = 5).count() }
      // one measured pair pass; config sweep is broadcast arithmetic
      time("d30 lshBandPlanner") {
        graft.pipeline.Dedup.lshBandPlanner(docs, "text", "doc_id")
          .collect().length.toLong }
      // the t27 plan + one global-NTILE sort over per-doc scalars
      time("t52 perplexityBuckets") {
        graft.pipeline.TextAnalysis.perplexityBuckets(docs, "text",
          "doc_id").count() }
      // map-only kernel scan + one m-row partial agg
      time("s32 pqDistortionReport m=8") {
        graft.pipeline.Pq.distortionReport(emb, "embedding", "vec_id",
          m = 8, ksub = 16).count() }
      // decode-stage energies; one sample-keyed exchange of scalars
      time("m19 spectralFeatures 8 bins") {
        graft.pipeline.Multimodal.spectralFeatures(
          graft.pipeline.Multimodal.textAsWav(docs, "doc_id", "text"),
          nBins = 8).count() }
      // one 16-slot signature pass; k sweep is prefix arithmetic
      time("d31 minHashSizeSweep ks=4,8,16") {
        graft.pipeline.Dedup.minHashSizeSweep(docs, "text", "doc_id")
          .collect().length.toLong }
      // one running-sum window; per-L metrics are integer division
      time("t53 packingWasteCurve 4 budgets") {
        graft.pipeline.Sampling.packingWasteCurve(docs, "text", "doc_id",
          "source", budgets = Seq(128L, 256L, 512L, 1024L)).count() }
      // one scan; each width a level count in the same round-trip
      time("s33 sqBitsSweep 4 widths") {
        graft.pipeline.Quantize.bitsSweep(emb, "embedding", -2.0, 2.0).count() }
      // one capped inverted-index pair pass; tau sweep is broadcast
      time("d32 containmentCurve (capped)") {
        graft.pipeline.Dedup.containmentCurve(docs, "text", "doc_id",
          maxPostings = Some(10000)).collect().length.toLong }
      time("d33 jaccardThresholdCurve (capped)") {
        graft.pipeline.Dedup.jaccardThresholdCurve(docs, "text", "doc_id",
          maxPostings = Some(10000)).collect().length.toLong }
      // 15-bin decode-stage energies; one keyed exchange of scalars
      time("m20 octaveBandEnergies") {
        graft.pipeline.Multimodal.octaveBandEnergies(
          graft.pipeline.Multimodal.textAsWav(docs, "doc_id", "text"))
          .count() }
      spark.catalog.clearCache()
    }

    // both runs at the SAME parallelism, or the growth ratio is skewed
    run("1x", docs1.repartition(parts), emb1.repartition(parts),
      events1.repartition(parts), semK = 8)
    run(s"${factor}x", docsN, embN, eventsN,
      semK = 8 * math.ceil(math.sqrt(factor)).toInt)
    spark.stop()
  }
}
