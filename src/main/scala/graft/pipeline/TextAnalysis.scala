package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (n-gram/stopword heuristic), quality scoring, token
  * counting, and document fingerprinting.
  *
  * All operators are pure column expressions (whole-stage codegen, no
  * UDFs, no shuffles beyond the caller's aggregations), so they scale
  * linearly with input splits: at 100 TB each executor core scores its
  * own parquet split and nothing is exchanged.
  */
object TextAnalysis {

  /** Number of occurrences of `word` as a whitespace-delimited token.
    * Implemented as length arithmetic over `replace` so it stays
    * deterministic and engine-portable (same formula is expressible in
    * ANSI SQL for the DuckDB oracle).
    */
  def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val needle = s" $word "
    // overlapping " w1 w2 " patterns: replace consumes the shared
    // space, so pad replacement keeps counts for adjacent stopwords.
    (length(padded) - length(replace(padded, lit(needle), lit(" ")))) /
      lit(needle.length - 1)
  }

  /** Whitespace token count (split on single spaces; the corpus is
    * single-space delimited). Computed as space-count + 1 — split
    * keeps empty tokens (limit -1), so the identity
    * `size(split(t, " ")) == count(' ') + 1` holds for EVERY string
    * including empties and runs of spaces — which avoids
    * materializing the token array just to take its length.
    */
  def tokenCount(text: Column): Column =
    (length(text) - length(replace(text, lit(" "), lit(""))) + lit(1)).cast("long")

  /** Crude BPE-ish subword count: tokens × avg-chars-per-token / 4
    * approximated as ceil(chars/4) — the standard "~4 chars per
    * token" estimator used for LLM budget accounting.
    */
  def approxBpeTokens(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("long")

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "nicht"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"),
  )

  /** Stopword-marker score for one language. */
  def langScore(text: Column, lang: String): Column =
    markers.toMap.apply(lang).map(w => wordOccurrences(text, w))
      .reduce(_ + _).cast("double")

  /** Heuristic language ID: CJK codepoint share beats stopword
    * counts; otherwise the best marker-stopword score wins, with
    * 'unknown' when no marker appears. Deterministic tie-break by
    * fixed language order (en > de > fr > es).
    */
  def languageId(text: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val scores = markers.map { case (l, _) => l -> langScore(text, l) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(
      when(cjk > lit(0), lit("zh")).when(best <= lit(0.0), lit("unknown"))
    ) { case (acc, (l, s)) => acc.when(s === best, lit(l)) }.otherwise(lit("unknown"))
  }

  /** Staged language ID over a whole frame: score columns are
    * materialized in their own projection so each marker count is
    * computed once — the single-Column [[languageId]] duplicates each
    * score subtree in `greatest` + the comparisons (~5×), which
    * CollapseProject would otherwise re-inline.
    */
  def withLanguageId(df: DataFrame, textCol: String,
      outCol: String = "lang_pred"): DataFrame = {
    val t = col(textCol)
    val scored = df.withColumns(Map(
      "__cjk" -> length(regexp_replace(t, "[^\\u4e00-\\u9fff]", "")),
    ) ++ markers.map { case (l, _) => s"__s_$l" -> langScore(t, l) })
    val scores = markers.map { case (l, _) => l -> col(s"__s_$l") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scored
      .withColumn(outCol,
        scores.foldLeft(
          when(col("__cjk") > lit(0), lit("zh")).when(best <= lit(0.0), lit("unknown"))
        ) { case (acc, (l, s)) => acc.when(s === best, lit(l)) }.otherwise(lit("unknown")))
      .drop("__cjk" +: markers.map { case (l, _) => s"__s_$l" }: _*)
  }

  /** Punctuation character count — `translate` (single-pass char
    * map) deletes the punctuation set; the length drop is the count.
    * No regex engine in the hot path.
    */
  def punctCount(text: Column): Column =
    (length(text) - length(translate(text, ".,;:!?", ""))).cast("long")

  /** Uppercase-letter count (ASCII A-Z, translate-deleted like
    * [[punctCount]]).
    */
  def upperCount(text: Column): Column =
    (length(text) - length(translate(text, ('A' to 'Z').mkString, ""))).cast("long")

  /** Mean token length in characters (single double division —
    * deterministic and engine-portable bit-for-bit).
    */
  def meanTokenLen(text: Column): Column =
    length(replace(text, lit(" "), lit(""))).cast("double") /
      tokenCount(text).cast("double")

  /** Composite quality score in [0,1]: favors mid-length docs with
    * low punctuation density and a healthy stopword ratio. The exact
    * weights are a heuristic; the shape (bounded ratios summed with
    * fixed weights) mirrors common pretraining-data quality filters.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lenScore = least(nTok.cast("double") / lit(100.0), lit(1.0))
    val punctRatio = punctCount(text).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))
    val stopRatio = langScore(text, "en") / greatest(nTok.cast("double"), lit(1.0))
    val stopScore = least(stopRatio * lit(10.0), lit(1.0))
    lit(0.5) * lenScore + lit(0.3) * stopScore +
      lit(0.2) * (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0)))
  }

  /** PER-SOURCE PERCENTILE quality gate vs the raw global threshold —
    * the calibration decision behind any cross-source quality filter:
    * a single global score cutoff admits sources in proportion to
    * their score DISTRIBUTIONS (a clean source sails through, a noisy
    * one is decimated — silently reweighting the mix), while gating on
    * the within-source percentile admits the same top fraction of
    * every source, preserving the mix by construction. This reports
    * both admission counts side by side per source, so the skew a raw
    * threshold would introduce is measured before anyone ships it.
    *
    * Scale shape: one scan computes the [[qualityScore]] scalar, the
    * within-source percent_rank is ONE source-keyed window exchange
    * carrying (source, score, id) triples — documents never shuffle —
    * and the report is a |sources|-row rollup. Skewed sources are the
    * window's partition skew; at 100 TB the (source) partition key is
    * coarse but each partition only sorts scalar triples.
    *
    * Determinism: percent_rank = (rank−1)/(n−1) over a TOTAL order
    * (score desc, id asc — the id tie-break makes every rank unique),
    * so the double compares identically on any engine; rates are
    * single exact-integer divisions rounded 6 dp.
    *
    * @param topFrac    admit docs with percent_rank ≤ topFrac
    * @param rawThreshold the global score cutoff being compared
    * @return (source, n_docs, n_admit_raw, n_admit_pct, raw_rate,
    *         pct_rate) — one row per source (unsorted; callers order)
    */
  def percentileGateBySource(docs: DataFrame, textCol: String,
      idCol: String, srcCol: String, topFrac: Double,
      rawThreshold: Double): DataFrame = {
    val scored = graft.ops.ScaleOps.fanOut(docs).select(
      col(srcCol).as("source"), col(idCol).as("id"),
      qualityScore(col(textCol)).as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("id"))
    scored
      .withColumn("pr", percent_rank().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= lit(rawThreshold), 1L).otherwise(0L))
          .as("n_admit_raw"),
        sum(when(col("pr") <= lit(topFrac), 1L).otherwise(0L))
          .as("n_admit_pct"))
      .withColumn("raw_rate",
        round(col("n_admit_raw").cast("double") /
          col("n_docs").cast("double"), 6))
      .withColumn("pct_rate",
        round(col("n_admit_pct").cast("double") /
          col("n_docs").cast("double"), 6))
  }

  /** PER-SOURCE quality DRIFT between two corpus snapshots — the
    * monitoring read a standing ingest pipeline alarms on: when a
    * source's scraper, upstream site, or spam profile changes, its
    * quality-score DISTRIBUTION moves long before any fixed-threshold
    * admission count does. Reports, per source, both snapshot counts,
    * both means, and the exact two-sample Kolmogorov–Smirnov
    * statistic (max ECDF gap over the contract-rounded score), with a
    * drift verdict at `ksThreshold`.
    *
    * Determinism: scores are round-6 DECIMAL(18,6) before any
    * aggregation (exact sums on any engine/partitioning — the t43
    * discipline); the ECDF gap is |cum_old/n_old − cum_new/n_new| on
    * exact integers, a fixed expression per distinct score value;
    * means are one decimal-sum division rounded 6 dp.
    *
    * Scale shape: one score scan per snapshot, a (source, score)
    * rollup, ONE source-keyed cumulative window over DISTINCT score
    * rows (not docs), and a |sources|-row rollup.
    *
    * @return (source, n_old, n_new, mean_old, mean_new, ks, drifted
    *         0/1 — null ks/drifted when either side is empty); one
    *         row per source present in either snapshot (unsorted)
    */
  def qualityDriftBySource(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String, srcCol: String,
      ksThreshold: Double = 0.2): DataFrame = {
    def scored(df: DataFrame, flag: Int) =
      graft.ops.ScaleOps.fanOut(df).select(col(srcCol).as("source"),
        round(qualityScore(col(textCol)), 6).cast(DecimalType(18, 6)).as("s"),
        lit(flag).as("is_new"))
    val per = scored(oldDocs, 0).unionByName(scored(newDocs, 1))
      .groupBy(col("source"), col("s"))
      .agg(sum(when(col("is_new") === 0, 1L).otherwise(0L)).as("co"),
        sum(when(col("is_new") === 1, 1L).otherwise(0L)).as("cn"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val cum = per
      .withColumn("cum_o", sum(col("co")).over(wCum))
      .withColumn("cum_n", sum(col("cn")).over(wCum))
      .withColumn("n_old", sum(col("co")).over(wAll))
      .withColumn("n_new", sum(col("cn")).over(wAll))
    val gap = abs(col("cum_o").cast("double") / col("n_old").cast("double")
      - col("cum_n").cast("double") / col("n_new").cast("double"))
    val ksRaw = max(when(col("n_old") > 0L && col("n_new") > 0L, gap))
    cum.groupBy(col("source"))
      .agg(max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
        sum(col("s") * col("co")).as("sum_o"),
        sum(col("s") * col("cn")).as("sum_n"),
        ksRaw.as("ks_raw"))
      .select(col("source"), col("n_old"), col("n_new"),
        when(col("n_old") === 0L, lit(null).cast("double"))
          .otherwise(round(col("sum_o").cast("double") /
            col("n_old").cast("double"), 6)).as("mean_old"),
        when(col("n_new") === 0L, lit(null).cast("double"))
          .otherwise(round(col("sum_n").cast("double") /
            col("n_new").cast("double"), 6)).as("mean_new"),
        round(col("ks_raw"), 6).as("ks"),
        when(col("ks_raw").isNull, lit(null).cast("long"))
          .otherwise(when(col("ks_raw") > lit(ksThreshold), 1L)
            .otherwise(0L)).as("drifted"))
  }

  /** Canonical-form document fingerprint: md5 of the
    * lowercased, whitespace-collapsed text. Identical fingerprints ⇒
    * exact near-duplicates under normalization.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** 64-bit rolling-style fingerprint (xxhash64 of the canonical
    * form) — cheap join/partition key for dedup at scale.
    */
  def fingerprint64(text: Column): Column =
    xxhash64(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Gopher-style repetition filter signal: the fraction of a
    * document's word n-grams taken by its single most frequent one.
    * Degenerate machine-generated text ("foo bar foo bar foo bar …")
    * scores near 1; healthy prose stays low. One explode + two
    * aggregations, all keyed by doc id — shuffle volume is n-gram
    * hashes, never documents.
    */
  def repetitionStats(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 2): DataFrame = {
    // the per-(id, gram) count only needs gram IDENTITY, so the
    // shuffle key is the gram's 64-bit hash, not the string — at
    // corpus scale that cuts the exchange to (id, long) pairs. A
    // collision would merge two grams within one doc: P ≈ g²/2⁶⁵
    // per doc, far below any other noise source. One-pass kernel
    // (see [[graft.functions.NgramSliceHashes]]): the n-gram string
    // is the contiguous input slice, hashed in place.
    graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"),
        explode(graft.functions.NgramSliceHashes(col(textCol), n)).as("gram"))
      .groupBy(col("id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_distinct_grams"),
        sum(col("cnt")).as("n_grams"),
        max(col("cnt")).as("top_gram_count"))
      .select(col("id"), col("n_grams"), col("top_gram_count"),
        (col("top_gram_count").cast("double") / col("n_grams").cast("double"))
          .as("repetition_ratio"))
  }

  /** Per-group token statistics with an APPROXIMATE distinct-token
    * count — the 100 TB twin of the exact formulation (t03): exact
    * `COUNT(DISTINCT tok)` shuffles every distinct (group, token)
    * pair, which at corpus scale is a shuffle within 2× of the input
    * itself; `approx_count_distinct` (HyperLogLog++) carries one
    * fixed-size sketch per group per map task instead, so shuffle
    * volume is O(#groups × sketch), independent of corpus size.
    *
    * Single aggregation: n_docs rides along as `sum(pos == 0)` over
    * the posexploded tokens, so no second branch + join is needed.
    * `rsd` is the target relative standard deviation (default 5%,
    * matching Spark's).
    */
  def tokenStatsApprox(docs: DataFrame, textCol: String, groupCol: String,
      rsd: Double = 0.05): DataFrame =
    docs
      .select(col(groupCol), posexplode(split(col(textCol), " ")))
      .groupBy(col(groupCol))
      .agg(
        sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("total_tokens"),
        approx_count_distinct(col("col"), rsd).as("approx_distinct_tokens"))

  /** Top-k vocabulary with cumulative corpus coverage — the
    * tokenizer-training prep question: how much of the token stream
    * do the k most frequent types cover? Returns
    * (tok, cnt, rank, coverage) for the k highest-count tokens, ties
    * broken by the token string so the ranking is total.
    *
    * Scale shape: ONE partial-aggregated exchange keyed by token (the
    * only corpus-sized step; output is vocabulary-sized), a TopK
    * (TakeOrderedAndProject — no global sort), and the running
    * coverage window runs over k rows only, so its single-partition
    * sort is bounded by k, not the vocabulary. The corpus total rides
    * as a 1-row broadcast. Coverage = exact integer cumulative count
    * / exact integer total — ONE IEEE division per row, bit-identical
    * across engines with no rounding contract needed.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    val counts = graft.ops.ScaleOps.fanOut(docs)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("double").as("tot"))
    val top = counts.orderBy(col("cnt").desc, col("tok")).limit(k)
    // k rows by here — single-partition BY DESIGN (constant partition
    // key: intent stated, accidental-global-window warning silenced)
    val w = graft.ops.WindowOps.singlePartition(col("tok"))
      .orderBy(col("cnt").desc, col("tok"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        graft.ops.WindowOps.singlePartition(col("tok"))
          .orderBy(col("cnt").desc, col("tok")))
        .cast("long"))
      .withColumn("coverage", sum(col("cnt")).over(w).cast("double") / col("tot"))
      .select(col("tok"), col("cnt"), col("rank"), col("coverage"))
  }

  /** Top-k characteristic keywords per document by tf-idf, with the
    * idf taken as the RAW inverse document-frequency ratio N/df
    * (no logarithm): `ln` is not bit-identical across engines/libms,
    * while integer-valued counts, one IEEE division, and one multiply
    * are — which keeps the score oracle-exact. Rank ties break on the
    * token string, so the pick is total and reproducible.
    *
    * Scale shape: three hash shuffles — (doc, token) term counts, a
    * per-token window for document frequency (an unbounded-frame
    * count over `tf`, NOT a groupBy + self-join: same shuffle key,
    * but no second aggregate and no sort-merge join of two
    * vocabulary-sized sides), and the per-doc top-k window — each
    * keyed by token or doc id, never carrying text beyond the token
    * itself. The corpus-size frame is one row, broadcast.
    */
  def tfidfKeywords(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val toks = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " "))
          .as("tok"))
      .where(col("tok") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * (col("n_docs") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** Per-document Shannon entropy (nats) of the token distribution —
    * the lexical-diversity signal quality filters threshold on:
    * boilerplate and keyword-stuffed spam score low, natural prose
    * high (≈ ln of the effective vocabulary size). Uses
    * H = ln N − (Σ c·ln c)/N over per-token counts c, N = Σ c.
    *
    * Scale shape: two keyed exchanges — (doc, token-HASH) counts,
    * then per-doc rollup — both partial-aggregated; the shuffle
    * carries (long, long, count) rows, never token strings (same
    * 64-bit-hash stance as t03/d02: a collision would merge two
    * counts within one doc, odds ~v²/2⁶⁵). The entropy is rounded to
    * 6 dp because Σ c·ln c accumulates in engine-specific order —
    * same treatment as the s05/t02 float aggregations.
    *
    * @return (id, n_tokens, n_distinct, entropy)
    */
  def tokenEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = graft.ops.ScaleOps.fanOut(docs)
      // one-pass kernel (see [[graft.functions.TokenHashes]]): hash
      // BEFORE the shuffle so the partial aggregate emits (id, long)
      // keys, and the per-token interpreted split/hash work collapses
      // into one byte scan per document
      .select(col(idCol).as("id"),
        explode(graft.functions.TokenHashes(col(textCol))).as("th"))
      .groupBy(col("id"), col("th"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("id"))
      .agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      .select(col("id"), col("n").as("n_tokens"), col("n_distinct"),
        round(log(col("n").cast("double")) - col("clogc") / col("n").cast("double"), 6)
          .as("entropy"))
  }

  /** All four quality-gate signals (token count, mean token length,
    * top-n-gram repetition ratio, token entropy) from ONE
    * tokenization pass. The separable formulation (t02 + t08 + t15
    * branches joined on doc id) scans and re-explodes the corpus once
    * per signal — ~3 full tokenization passes at 100 TB where the
    * signals share a single split. Here each document emits one
    * tagged stream — (kind=token, xxhash64(tok), len(tok)) plus
    * (kind=gram, xxhash64(gram), 0) — through a single Generate, and
    * the per-doc rollup derives:
    *   n_tokens       = Σ token counts,
    *   mean_token_len = Σ c·len / n_tokens (≡ chars-sans-spaces / n),
    *   repetition     = max gram count / Σ gram counts,
    *   entropy        = ln n − (Σ c·ln c)/n, 6-dp (t15 treatment).
    * Two keyed exchanges total, both partial-aggregated, both
    * carrying (id, kind, hash) — never strings. Docs with fewer than
    * `n` tokens have no grams → null repetition_ratio (the caller's
    * threshold drops them, matching the inner-join composition).
    */
  def qualityGateSignals(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 2): DataFrame = {
    // the tagged token+gram stream in ONE kernel pass (see
    // [[graft.functions.TokenGramEntries]]) — hash/length-identical
    // to the two interpreted transforms it replaces
    graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"),
        explode(graft.functions.TokenGramEntries(col(textCol), n)).as("e"))
      .groupBy(col("id"), col("e.kind").as("kind"), col("e.h").as("h"))
      // len is constant per (kind, hash) — max() only to keep the
      // aggregate deterministic
      .agg(count(lit(1)).as("c"), max(col("e.len")).as("len"))
      .groupBy(col("id"))
      .agg(
        sum(when(col("kind") === 0, col("c"))).as("n_tokens"),
        sum(when(col("kind") === 0, col("c") * col("len"))).as("n_chars"),
        sum(when(col("kind") === 0,
          col("c").cast("double") * log(col("c").cast("double")))).as("clogc"),
        max(when(col("kind") === 1, col("c"))).as("top_gram"),
        sum(when(col("kind") === 1, col("c"))).as("n_grams"))
      .select(col("id"),
        col("n_tokens"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .as("mean_token_len"),
        (col("top_gram").cast("double") / col("n_grams").cast("double"))
          .as("repetition_ratio"),
        round(log(col("n_tokens").cast("double"))
          - col("clogc") / col("n_tokens").cast("double"), 6).as("entropy"))
  }

  /** Unigram language-model log-probability per document — the
    * perplexity-proxy quality signal: score(doc) = mean over its
    * tokens of ln(count(tok)/N), with the unigram model fit on the
    * corpus itself. Garbage/rare-token documents score low; this is
    * the cheap stand-in for the LM-perplexity filter real curation
    * pipelines run.
    *
    * Scale shape: tokens hash to 64 bits map-side (the frequency
    * shuffle carries (hash, count), never strings); the per-doc score
    * joins doc tokens to the frequency table on the hash — both sides
    * partial-aggregated, both keyed on the hash, so the join reuses
    * one partitioning. The corpus total N is a 1-row broadcast.
    * Rounded to 6 dp (ln accumulation order is engine-specific, the
    * t15 treatment).
    *
    * @return (id, n_tokens, mean_logp)
    */
  def unigramLogProb(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"),
        explode(graft.functions.TokenHashes(col(textCol))).as("th"))
    val docCounts = toks.groupBy(col("id"), col("th"))
      .agg(count(lit(1)).as("c_doc"))
    val freq = docCounts.groupBy(col("th"))
      .agg(sum(col("c_doc")).as("c"))
    val total = freq.agg(sum(col("c")).cast("double").as("n_total"))
    docCounts.join(freq, Seq("th"))
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(
        sum(col("c_doc")).as("n_tokens"),
        round(
          (sum(col("c_doc").cast("double") *
            log(col("c").cast("double") / col("n_total"))) /
            sum(col("c_doc")).cast("double")), 6).as("mean_logp"))
  }

  /** Bigram language-model log-probability per document — one model
    * order up from [[unigramLogProb]]: score(doc) = mean over its
    * bigrams of ln(c(w₁w₂)/c(w₁·)), the MLE conditional
    * P(w₂|w₁) with the model fit on the corpus itself. Catches
    * word-salad documents whose unigram distribution looks normal
    * but whose transitions are improbable — the standard step before
    * a real KenLM-style perplexity filter.
    *
    * Scale shape mirrors [[unigramLogProb]]: each doc emits its
    * bigram stream as (h₁ = hash(w₁), h₁₂ = hash(w₁⊔w₂)) pairs
    * hashed map-side, so every exchange carries longs, never
    * strings. The per-doc counts join the corpus bigram table on h₁₂
    * and the corpus context table on h₁ — both sides
    * partial-aggregated hash joins. Docs with < 2 tokens emit no
    * bigrams and drop out (both engines agree by construction).
    * Rounded to 6 dp (ln accumulation order, the t15/t19 treatment).
    *
    * @return (id, n_bigrams, mean_logp)
    */
  def bigramLogProb(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Shared kernelized construction (see [[bigramDocCounts]]).
    // Three consumers (bigramFreq, ctxFreq, the per-doc join) share
    // the scan→kernel→partial-agg chain through AQE exchange reuse;
    // each re-runs only the cheap final aggregate over the reused
    // shuffle. Round 10 dropped the scoped cache that used to sit
    // here: the write+read of the corpus-sized frame cost MORE than
    // those re-aggregations (measured 1.8s cached → 1.0s cache-free
    // at bench scale with the one-pass kernel).
    val docCounts = bigramDocCounts(docs, textCol, idCol)
    val bigramFreq = docCounts.groupBy(col("h12")).agg(sum(col("c_doc")).as("c12"))
    // context count c(w₁·) = occurrences of w₁ as a bigram's first
    // token — NOT the unigram count (the last token of a doc starts
    // no bigram), which is what makes Σ P(w₂|w₁) normalize per w₁
    val ctxFreq = docCounts.groupBy(col("h1")).agg(sum(col("c_doc")).as("c1"))
    docCounts
      .join(bigramFreq, Seq("h12"))
      .join(ctxFreq, Seq("h1"))
      .groupBy(col("id"))
      .agg(
        sum(col("c_doc")).as("n_bigrams"),
        round(
          sum(col("c_doc").cast("double") *
            log(col("c12").cast("double") / col("c1").cast("double"))) /
            sum(col("c_doc")).cast("double"), 6).as("mean_logp"))
  }

  /** N-gram novelty per document: the fraction of a doc's distinct
    * shingles first seen in THIS doc under ascending-id corpus order
    * — the freshness signal a pipeline tracks while appending crawl
    * snapshots (a doc whose shingles all appeared in earlier docs is
    * recycled content even when no single earlier doc matches it,
    * which is exactly the case pairwise dedup misses).
    *
    * Scale shape — two map-side kernel passes, NO posting-list
    * shuffle: a shingle is novel to exactly ONE doc (its min id), so
    * n_novel comes from a shingle-keyed `min(id)` whose partial
    * aggregation collapses hot boilerplate shingles on the map side —
    * the exchange carries one winner row per distinct shingle, never
    * the (id, shingle) posting list a join-back formulation reshuffles
    * (and hot shingles can't skew a reducer: they arrive already
    * collapsed). Per-doc totals are `size(kernel)` — a scan-stage
    * projection with no explode and no shuffle — and the final
    * doc-level join moves three longs per doc. Docs with < n tokens
    * have no shingles and drop out (both engines agree).
    *
    * @return (id, n_shingles, n_novel, novelty)
    */
  def ngramNovelty(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val kernel = graft.functions.ShingleStrings(col(textCol), n)
    val totals = docs
      .select(col(idCol).as("id"), size(kernel).cast("long").as("n_shingles"))
      .where(col("n_shingles") > 0)
    val novel = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"), explode(kernel).as("shingle"))
      .groupBy(xxhash64(col("shingle")).as("sh"))
      .agg(min(col("id")).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** Count-min-sketch token-frequency report: build a depth×width CMS
    * over the corpus token stream with DETERMINISTIC md5-derived row
    * hashes, then report the true top-k tokens with exact count and
    * sketch estimate side by side. The sketch is the mergeable
    * heavy-hitter structure a streaming/multi-day pipeline keeps when
    * exact per-token counts stop fitting; the deterministic hashes
    * make the WHOLE structure oracle-reproducible (the estimate is
    * integer arithmetic end to end), so the kernel is hash-proven the
    * way the d12/d13 sketch twins are — and `cms_est >= cnt` by
    * construction, which the spec asserts.
    *
    * Scale shape: exact counts are one token-keyed partial-agg
    * exchange (the same exchange t20 pays); the sketch adds a
    * depth-way explode over DISTINCT tokens (not the raw stream) into
    * a ≤ depth×width-cell aggregation — constant-size output, fully
    * map-side combinable, exactly how CMS merges across executors.
    * Top-k is TakeOrderedAndProject; the estimate join touches
    * k×depth rows against the broadcast cell table.
    *
    * @return (tok, cnt, cms_est) — true top-k by (cnt desc, tok)
    */
  /** Row-j CMS bucket of `tok`: the first 4 md5 nibbles of "j:tok" as
    * an int, mod width — the d13 move (conv on a fixed-width hex
    * slice keeps the parse in codegen and exactly reproducible in
    * SQL).
    */
  def cmsBucket(tok: Column, j: Int, width: Int): Column =
    conv(substring(md5(concat_ws(":", lit(j), tok)), 1, 4), 16, 10)
      .cast("long") % width

  /** The depth-way (row, bucket) explode of a weighted token frame —
    * aggregating `sum(weight)` over its output yields the CMS cell
    * table. Kept separate so BATCH ([[heavyHittersCms]]) and
    * STREAMING ([[graft.streaming.EventStreams.cmsCellsStream]])
    * build the IDENTICAL structure from the same expression (the
    * differential spec pins stream == batch cell-for-cell).
    */
  def cmsEntries(weighted: DataFrame, tokCol: String, weightCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, "bad cms params")
    weighted.select(col(weightCol).as("w"),
      explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), cmsBucket(col(tokCol), j, width).as("b"))): _*))
        .as("rc"))
      .select(col("rc.j").as("j"), col("rc.b").as("b"), col("w"))
  }

  def heavyHittersCms(docs: DataFrame, textCol: String,
      k: Int = 20, depth: Int = 4, width: Int = 1024): DataFrame = {
    require(k > 0 && depth > 0 && width > 0, "bad cms params")
    val counts = graft.ops.ScaleOps.fanOut(docs)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val cells = cmsEntries(counts, "tok", "cnt", depth, width)
      .groupBy(col("j"), col("b"))
      .agg(sum(col("w")).as("cell"))
    val top = counts
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
    top
      .select(col("tok"), col("cnt"),
        explode(array((0 until depth).map(j =>
          struct(lit(j).as("j"), cmsBucket(col("tok"), j, width).as("b"))): _*))
          .as("rc"))
      .join(broadcast(cells),
        col("rc.j") === cells("j") && col("rc.b") === cells("b"))
      .groupBy(col("tok"), col("cnt"))
      .agg(min(col("cell")).as("cms_est"))
      .select(col("tok"), col("cnt"), col("cms_est"))
  }

  /** Jelinek-Mercer interpolated LM log-probability — the smoothing
    * step between [[bigramLogProb]] (which assigns −∞ to nothing only
    * because every test bigram was seen in training: the model is fit
    * on the corpus itself) and a production KenLM filter:
    * score(doc) = mean ln(λ·P_bi(w₂|w₁) + (1−λ)·P_uni(w₂)). The
    * unigram back-off makes the score robust to rare transitions, the
    * standard fix before filtering on LM likelihood.
    *
    * Scale shape: the t22 pipeline plus ONE more hash join — each
    * bigram emits (h₁, h₂, h₁₂) from the one-pass kernel map-side;
    * the corpus bigram/context tables re-aggregate the shared
    * exchange (AQE reuse; cache-free — the t22 lesson), and the
    * token total is a 1-row broadcast. Strings never shuffle. The
    * unigram table is a second kernel pass (it needs the final
    * tokens bigrams miss): two cheap map-side passes over text beat
    * materializing one tagged token+bigram stream through a
    * corpus-wide exchange just to share the Generate.
    * Rounded 6 dp (t15).
    *
    * @return (id, n_bigrams, mean_logp)
    */
  /** Per-doc bigram counts (h1, h2, h12, id, c_doc), hashed map-side
    * — the shared stream every bigram-LM consumer re-aggregates
    * ([[bigramLogProb]], [[interpolatedLogProb]],
    * [[kneserNeyLogProb]]). Deliberately NOT cached: consumers share
    * the heavy scan→kernel→partial-agg chain through AQE exchange
    * reuse, and a scoped cache of this corpus-sized frame measured
    * SLOWER than the re-aggregations it saved (round-10 profile).
    */
  private def bigramDocCounts(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    // one-pass codegen-side kernel (see [[graft.functions.BigramHashes]]):
    // hash-identical to the split/transform/xxhash64 spelling it
    // replaced, but the per-element interpreted HOF work — which
    // dominated the whole LM-score family's bench profile — is one
    // imperative byte scan per document
    graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"),
        explode(graft.functions.BigramHashes(col(textCol))).as("g"))
      .groupBy(col("g.h1").as("h1"), col("g.h2").as("h2"),
        col("g.h12").as("h12"), col("id"))
      .agg(count(lit(1)).as("c_doc"))

  def interpolatedLogProb(docs: DataFrame, textCol: String, idCol: String,
      lambda: Double = 0.5): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0,1]")
    // two consumers (the per-doc join and the 1-row total) share
    // the tokenize+aggregate chain through AQE exchange reuse; with
    // the one-pass kernel a re-tokenization is cheap enough that the
    // old scoped cache cost more than it saved
    val unigram = graft.ops.ScaleOps.fanOut(docs)
      .select(explode(graft.functions.TokenHashes(col(textCol))).as("h2"))
      .groupBy(col("h2"))
      .agg(count(lit(1)).as("cu"))
    val total = unigram.agg(sum(col("cu")).cast("double").as("n_total"))
    val docCounts = bigramDocCounts(docs, textCol, idCol)
    val bigramFreq = docCounts.groupBy(col("h12")).agg(sum(col("c_doc")).as("c12"))
    val ctxFreq = docCounts.groupBy(col("h1")).agg(sum(col("c_doc")).as("c1"))
    docCounts
      .join(bigramFreq, Seq("h12"))
      .join(ctxFreq, Seq("h1"))
      .join(unigram, Seq("h2"))
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(
        sum(col("c_doc")).as("n_bigrams"),
        round(
          sum(col("c_doc").cast("double") * log(
            lit(lambda) * (col("c12").cast("double") / col("c1").cast("double")) +
            (lit(1.0) - lit(lambda)) *
              (col("cu").cast("double") / col("n_total")))) /
            sum(col("c_doc")).cast("double"), 6).as("mean_logp"))
  }

  /** Perplexity bucketing — the CCNet-style head/middle/tail split
    * (Wenzek et al. 2020, arXiv:1911.00359): documents are cut into
    * `buckets` equal-count bins by LM score ([[interpolatedLogProb]],
    * descending — bucket 1 is the lowest-perplexity "head", the last
    * bucket the noisy tail that perplexity-filtered pipelines drop or
    * downsample). Each bucket reports its size, token mass, logprob
    * range, and the perplexity of its mean logprob — the table a
    * curation run reads before choosing the keep fraction.
    *
    * Determinism: per-doc `mean_logp` carries t27's ROUND(6)
    * contract, the bucket cut is a total order (score desc, id), and
    * `avg_logp` sums those rounded scores as DECIMAL(18,6) — exact
    * and order-independent (the t43 treatment) — so only `ppl_of_avg`
    * (exp of a bit-equal input) needs its own ROUND(6).
    *
    * The exact equal-count cut is a global NTILE — one total-order
    * sort, the oracle contract. At 100 TB swap the cut for
    * `approx_percentile` boundaries on `mean_logp` (map-side binning,
    * no global sort); the per-bucket aggregation is unchanged.
    *
    * @return (bucket, n_docs, n_bigrams, min_logp, max_logp,
    *         avg_logp, ppl_of_avg) ordered by bucket
    */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
      lambda: Double = 0.5, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val base = interpolatedLogProb(docs, textCol, idCol, lambda)
    def avgLogp = sum(col("mean_logp").cast(DecimalType(18, 6)))
      .cast("double") / count(lit(1)).cast("double")
    // two-pass range ntile (WindowOps.globalNtile) keyed by the
    // round-6 score VALUE: per-score partitions rank in parallel and
    // the offsets table is score-cardinality-sized — the corpus-sized
    // single-partition NTILE sort is gone; bucket values identical
    graft.ops.WindowOps.globalNtile(base,
        key = col("mean_logp"), keyDesc = true, ties = Seq(col("id")),
        buckets = buckets, out = "bucket")
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        min(col("mean_logp")).as("min_logp"),
        max(col("mean_logp")).as("max_logp"),
        avgLogp.as("avg_logp"),
        round(exp(-avgLogp), 6).as("ppl_of_avg"))
      .orderBy(col("bucket"))
  }

  /** Interpolated Kneser-Ney bigram LM score — the smoothing that
    * actually ships in n-gram LM filters (KenLM's default):
    * P_KN(w₂|w₁) = (max(c(w₁w₂) − D, 0) + D·N₁₊(w₁·)·P_cont(w₂)) / c(w₁·)
    * with P_cont(w₂) = N₁₊(·w₂) / |distinct bigrams| — the
    * continuation probability ranks words by how many CONTEXTS they
    * follow, not raw frequency, which is what stops boilerplate-heavy
    * tokens ("francisco" after "san") from leaking probability mass
    * into unseen contexts. D fixed at 0.75 (the Ney-Essen-Kneser
    * estimate for singleton-rich corpora). Per doc: mean ln P_KN over
    * its bigram stream.
    *
    * Everything derives from ONE distinct-bigram table re-aggregated
    * from the shared [[bigramDocCounts]] stream — c₁₂ keyed h₁₂, the
    * (c₁, N₁₊ fwd) pair keyed h₁ in a single groupBy, N₁₊ bwd keyed
    * h₂, and the bigram-type total as a 1-row broadcast: the corpus
    * is tokenized once, every exchange carries longs, and unlike
    * [[interpolatedLogProb]] no separate unigram tokenization pass is
    * needed (continuation counts come from the bigram table itself).
    * All counts are exact integers; the score is IEEE products + ln
    * rounded 6 dp (the t15/t22 treatment), so the oracle
    * reconstructs it exactly.
    *
    * @return (id, n_bigrams, mean_logp)
    */
  def kneserNeyLogProb(docs: DataFrame, textCol: String, idCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0,1)")
    val docCounts = bigramDocCounts(docs, textCol, idCol)
    // four consumers (the h12 join, ctx, bwd, totalTypes) share the
    // docCounts→distinct-bigram aggregation through AQE exchange
    // reuse — cache-free like the rest of the family (round 10)
    val bigrams = docCounts
      .groupBy(col("h1"), col("h2"), col("h12"))
      .agg(sum(col("c_doc")).as("c12"))
    val ctx = bigrams.groupBy(col("h1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nf"))
    val bwd = bigrams.groupBy(col("h2")).agg(count(lit(1)).as("nb"))
    val totalTypes = bigrams.agg(count(lit(1)).cast("double").as("bb"))
    docCounts
      .join(bigrams.select(col("h12"), col("c12")), Seq("h12"))
      .join(ctx, Seq("h1"))
      .join(bwd, Seq("h2"))
      .crossJoin(broadcast(totalTypes))
      .groupBy(col("id"))
      .agg(
        sum(col("c_doc")).as("n_bigrams"),
        round(
          sum(col("c_doc").cast("double") * log(
            (greatest(col("c12").cast("double") - lit(discount), lit(0.0)) +
              lit(discount) * col("nf").cast("double") *
                (col("nb").cast("double") / col("bb"))) /
              col("c1").cast("double"))) /
            sum(col("c_doc")).cast("double"), 6).as("mean_logp"))
  }

  /** Exact grouped ROC-AUC of a score column against a boolean label
    * — the evaluation every score-based curation filter (the t29
    * Naive-Bayes quality score, LM log-probs, Gopher heuristics)
    * needs before anyone thresholds on it: does the score actually
    * rank positives above negatives, per group? Computed via the
    * Mann-Whitney pair statistic on SCORE-AGGREGATED counts:
    * AUC = (Σ_s np(s)·cum_nn(<s) + ½·Σ_s np(s)·nn(s)) / (Np·Nn)
    * (ties count half, the standard mid-rank convention). Everything
    * is integer until the single final division — kept as
    * (2·wins + ties) / (2·Np·Nn) so the only IEEE op is one divide,
    * rounded 6 dp: the oracle reconstructs it exactly.
    *
    * Scale shape: one (group, score) partial-aggregated exchange
    * collapses the corpus to distinct-score rows, then a group-keyed
    * cumulative window over those rows and a group aggregate — the
    * windows parallelize across groups, and nothing downstream of
    * the first aggregation is corpus-sized. Pass an already-rounded
    * score (the t15 ROUND(6) contract) so score equality — which
    * determines tie handling — is cross-engine exact. Groups missing
    * a class have no defined AUC and are dropped (0/0 differs by
    * engine; mirrored in the oracle).
    *
    * @return (group, n_pos, n_neg, auc)
    */
  def classifierAuc(scored: DataFrame, groupCol: String, scoreCol: String,
      label: Column): DataFrame = {
    val g = scored
      .groupBy(col(groupCol).as("grp"), col(scoreCol).as("s"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("np"),
        sum(when(label, 0L).otherwise(1L)).as("nn"))
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    g.withColumn("cum_nn", coalesce(sum(col("nn")).over(wcum), lit(0L)))
      .groupBy(col("grp"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * col("cum_nn") * 2 + col("np") * col("nn")).as("wins2"))
      .where(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("grp").as(groupCol), col("n_pos"), col("n_neg"),
        round(col("wins2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
          6).as("auc"))
  }

  /** Naive-Bayes quality-classifier score — the counts-only core of
    * the fastText/CCNet-style quality filter every large pretraining
    * pipeline runs (train a cheap classifier on a trusted-vs-raw
    * split, keep documents scoring trusted-like): per document, the
    * mean multinomial log-likelihood ratio of its tokens,
    * mean ln(P(tok|pos)/P(tok|neg)) with add-one (Laplace)
    * smoothing, the model fit on the corpus itself from a
    * DETERMINISTIC label column — so unlike a trained fastText
    * binary, the whole pipeline is integer counts + IEEE ln and the
    * oracle reconstructs it exactly.
    *
    * Scale shape: the t19 discipline — tokens hash in the one-pass
    * kernel map-side (strings never shuffle); the class-count table
    * and the per-doc join share the counts chain through AQE
    * exchange reuse (cache-free, the t22 lesson); class totals are a
    * 1-row broadcast. Two partial-aggregated exchanges total, independent
    * of corpus size. Rounded 6 dp (ln accumulation order, the t15
    * treatment).
    *
    * @param positive boolean Column marking the trusted class
    * @return (id, label, n_tokens, mean_llr)
    */
  def nbQualityScore(docs: DataFrame, textCol: String, idCol: String,
      positive: Column): DataFrame = {
    val lab = when(positive, lit(1L)).otherwise(lit(0L))
    val docCounts = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"), lab.as("lab"),
        explode(graft.functions.TokenHashes(col(textCol))).as("h"))
      .groupBy(col("id"), col("lab"), col("h"))
      .agg(count(lit(1)).as("c_doc"))
    val cls = docCounts.groupBy(col("h"))
      .agg(sum(col("lab") * col("c_doc")).as("cpos"),
        sum((lit(1L) - col("lab")) * col("c_doc")).as("cneg"))
    val tot = cls.agg(sum(col("cpos")).cast("double").as("npos"),
      sum(col("cneg")).cast("double").as("nneg"),
      count(lit(1)).cast("double").as("v"))
    docCounts.join(cls, Seq("h"))
      .crossJoin(broadcast(tot))
      .groupBy(col("id"), col("lab"))
      .agg(sum(col("c_doc")).as("n_tokens"),
        round(sum(col("c_doc").cast("double") *
          (log((col("cpos").cast("double") + lit(1.0)) / (col("npos") + col("v"))) -
           log((col("cneg").cast("double") + lit(1.0)) / (col("nneg") + col("v"))))) /
          sum(col("c_doc")).cast("double"), 6).as("mean_llr"))
      .select(col("id"), col("lab").as("label"), col("n_tokens"), col("mean_llr"))
  }

  /** DSIR-style importance weight (Xie et al. 2023,
    * arXiv:2302.03169, "Data Selection for Language Models via
    * Importance Resampling"): per document, the log importance
    * ratio of its hashed BIGRAM features under the target-domain
    * distribution vs the raw-corpus distribution,
    * log w(doc) = Σ_f c_f · (ln p_tgt(f) − ln p_raw(f)), add-one
    * smoothed — resampling the raw corpus ∝ exp(log w) shifts it
    * toward the target domain. The target is a deterministic
    * predicate (a trusted source/domain), so both distributions are
    * integer counts and the oracle reconstructs the whole pipeline.
    *
    * Scale shape: the t22 bigram kernel (one byte scan per doc,
    * hashes computed map-side, strings never shuffle) with the
    * feature-frequency table and the scoring join sharing the
    * counts chain through AQE exchange reuse (cache-free, the t22
    * lesson); totals are a 1-row broadcast. Docs with < 2
    * tokens have no features and drop out (both engines agree).
    * Rounded 6 dp.
    *
    * @param target boolean Column marking target-domain documents
    * @return (id, is_target, n_bigrams, log_weight)
    */
  def importanceWeights(docs: DataFrame, textCol: String, idCol: String,
      target: Column): DataFrame = {
    // one-pass kernel, h12 = the joined "w1 w2" hash (see
    // [[graft.functions.BigramHashes]]); cache-free — AQE exchange
    // reuse covers the two consumers (the t22 lesson, round 10)
    val docCounts = graft.ops.ScaleOps.fanOut(docs)
      .select(col(idCol).as("id"), target.as("is_target"),
        explode(graft.functions.BigramHashes(col(textCol))).as("g"))
      .groupBy(col("id"), col("is_target"), col("g.h12").as("h"))
      .agg(count(lit(1)).as("c_doc"))
    val freq = docCounts.groupBy(col("h"))
      .agg(sum(col("c_doc")).as("craw"),
        sum(when(col("is_target"), col("c_doc")).otherwise(lit(0L))).as("ctgt"))
    val tot = freq.agg(sum(col("craw")).cast("double").as("nraw"),
      sum(col("ctgt")).cast("double").as("ntgt"),
      count(lit(1)).cast("double").as("v"))
    docCounts.join(freq, Seq("h"))
      .crossJoin(broadcast(tot))
      .groupBy(col("id"), col("is_target"))
      .agg(sum(col("c_doc")).as("n_bigrams"),
        round(sum(col("c_doc").cast("double") *
          (log((col("ctgt").cast("double") + lit(1.0)) / (col("ntgt") + col("v"))) -
           log((col("craw").cast("double") + lit(1.0)) / (col("nraw") + col("v"))))), 6)
          .as("log_weight"))
      .select(col("id"), col("is_target"), col("n_bigrams"), col("log_weight"))
  }

  /** Zipf rank-frequency fit over the top-N token types: ordinary
    * least squares on (ln rank, ln count) — slope ≈ −1 is the
    * healthy-corpus signature; a flat slope means boilerplate/spam
    * flattened the distribution, a cliff means a vocabulary hole. The
    * standard one-glance corpus-health check before training.
    *
    * Scale shape: ONE token-keyed partial-agg exchange (the t20/t24
    * exchange), a TakeOrderedAndProject top-N, and the regression over
    * N rows — the window and sums touch N≈100 rows regardless of
    * corpus size. Slope/intercept/r² are rounded to 6 dp (ln-sum
    * accumulation order, the t15 treatment).
    *
    * @return one row: (n_ranks, slope, intercept, r2)
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN > 1, "topN must exceed 1")
    val counts = graft.ops.ScaleOps.fanOut(docs)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(topN)
    // topN rows by here — single-partition BY DESIGN (constant key)
    val w = graft.ops.WindowOps.singlePartition(col("tok"))
      .orderBy(col("cnt").desc, col("tok"))
    val xy = counts
      .withColumn("r", row_number().over(w))
      .select(log(col("r").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    // Degenerate-corpus guard: with a single rank (n=1) the slope
    // denominator n·sxx−sx² is 0, and with all top-N counts equal
    // r²'s n·syy−sy² term is 0. Spark's non-ANSI Divide returns NULL
    // on 0/0 but DuckDB float division yields inf/nan — nullif pins
    // BOTH engines to NULL (the oracle uses the same nullif).
    def safeDiv(num: Column, den: Column): Column =
      num / nullif(den, lit(0.0))
    xy.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(
        col("n").cast("long").as("n_ranks"),
        round(safeDiv(col("n") * col("sxy") - col("sx") * col("sy"),
          col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round(safeDiv((col("sy") - safeDiv(col("n") * col("sxy") - col("sx") * col("sy"),
          col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")), col("n")), 6)
          .as("intercept"),
        round(safeDiv((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy")),
          (col("n") * col("sxx") - col("sx") * col("sx")) *
           (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** Corpus-level PMI collocations: the top-k adjacent token pairs by
    * pointwise mutual information, PMI(w₁,w₂) = ln(c₁₂·N / (c₁·c₂)),
    * with c₁ = occurrences of w₁ as a bigram's FIRST token and c₂ =
    * occurrences of w₂ as a bigram's SECOND token (both marginals of
    * the same bigram stream, so Σc₁ = Σc₂ = N and the PMI is a true
    * log-ratio of bigram-stream probabilities). The `minCount` floor
    * is the standard guard against the hapax explosion — a pair seen
    * once has PMI ≈ ln N regardless of whether it is a collocation.
    *
    * This is a REPORT query (the output is human-readable pairs), so
    * unlike the LM scores the bigram strings themselves aggregate —
    * the t24 heavy-hitters treatment: map-side partial aggregation
    * collapses hot pairs before the exchange, and everything after
    * the first groupBy operates on the distinct-bigram table (vocab-
    * bounded, corpus-size-independent). The marginals re-aggregate
    * that table, NOT the corpus; the 1-row total broadcasts; top-k is
    * TakeOrderedAndProject (no global sort materialization).
    *
    * All counts are exact integers; c₁₂·N and c₁·c₂ stay below 2⁵³
    * for any corpus this runs on (both ≤ N², N ≤ 2²⁶ per partition-
    * exact long counts), so the quotient is one IEEE division and the
    * oracle reconstructs ln of it bit-exactly. Rounded 6 dp; ranked
    * BEFORE rounding on the full double with (w₁,w₂) tie-breaks —
    * binary string order in both engines.
    *
    * @return top-k rows (w1, w2, c12, pmi) by PMI descending
    */
  def pmiCollocations(docs: DataFrame, textCol: String,
      k: Int = 50, minCount: Long = 5L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(minCount >= 1, "minCount must be >= 1")
    val toks = col("__tk")
    val idxs = when(size(toks) >= 2, sequence(lit(0), size(toks) - 2))
      .otherwise(array().cast("array<int>"))
    val grams = transform(idxs, i => struct(
      element_at(toks, i + 1).as("w1"), element_at(toks, i + 2).as("w2")))
    val bg = graft.ops.ScaleOps.fanOut(docs)
      .select(split(col(textCol), " ").as("__tk"))
      .select(explode(grams).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .transform(org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse)
    val left = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = bg.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val total = bg.agg(sum(col("c12")).cast("double").as("n_total"))
    bg.where(col("c12") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("pmi_raw",
        log((col("c12").cast("double") * col("n_total")) /
          (col("c1").cast("double") * col("c2").cast("double"))))
      .orderBy(col("pmi_raw").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"),
        round(col("pmi_raw"), 6).as("pmi"))
  }

  /** Pairwise vocabulary overlap between corpus slices (sources,
    * snapshots, languages): for every unordered pair of groups, the
    * Jaccard similarity of their distinct-token sets plus both
    * directional containments. The source-level fingerprint a
    * pipeline reads before mixing corpora — two crawls with 0.9
    * vocabulary containment are near-duplicates at the corpus level
    * even when no individual document matches (d02's blind spot), and
    * a slice whose vocabulary is contained in every other slice is
    * boilerplate-dominated.
    *
    * Scale shape: tokens hash map-side (xxhash64) so the distinct
    * shuffle and the intersection self-join move longs, never
    * strings; per-group vocab sizes are a tiny aggregate of the
    * distinct frame; the self-join is hash-keyed and bucket-local,
    * emitting at most G(G−1)/2 rows per distinct hash (G = group
    * count, the number of SLICES — single digits in practice). The
    * full pair grid comes from a broadcast cross of the G-row size
    * table, so pairs with empty intersections still appear (inter=0),
    * which a join-only formulation would silently drop.
    *
    * Counts are exact; jaccard/containment are one IEEE division
    * each, rounded 6 dp. The string→hash step is the t23 treatment:
    * the oracle runs on distinct token STRINGS, identical unless
    * xxhash64 collides inside one group's vocabulary (~|V|²/2⁶⁴).
    *
    * @return (group_a, group_b, vocab_a, vocab_b, inter, jaccard,
    *         containment_a, containment_b) for group_a < group_b
    */
  def vocabOverlap(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val vocab = graft.ops.ScaleOps.fanOut(docs)
      .select(col(groupCol).as("g"), explode(split(col(textCol), " ")).as("tok"))
      .select(col("g"), xxhash64(col("tok")).as("h"))
      .distinct()
      .transform(org.apache.spark.sql.graftbridge.CacheScope.releaseAfterUse)
    val sizes = vocab.groupBy(col("g")).agg(count(lit(1)).as("v"))
    val inter = vocab.as("a")
      .join(vocab.as("b"), col("a.h") === col("b.h") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(count(lit(1)).as("inter"))
    // hint placement (r15 verdict item 4): the old spelling hinted
    // BOTH cross-join sides; the cross join consumes one hint and the
    // leftover rode up to the outer join's LEFT side, where Spark
    // cannot build a left-outer hash relation — HintErrorLogger
    // silently dropped it and the intended plan was not the actual
    // plan. One hint per legal build side: the cross join broadcasts
    // its right input, the outer join broadcasts `inter` (group-pair
    // sized — the RIGHT side, the legal build side for LEFT OUTER).
    val grid = sizes.select(col("g").as("ga"), col("v").as("va"))
      .crossJoin(broadcast(sizes.select(col("g").as("gb"), col("v").as("vb"))))
      .where(col("ga") < col("gb"))
    grid.join(broadcast(inter), Seq("ga", "gb"), "left")
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("va").as("vocab_a"), col("vb").as("vocab_b"),
        coalesce(col("inter"), lit(0L)).as("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("vocab_a") + col("vocab_b") - col("inter")).cast("double"), 6))
      .withColumn("containment_a",
        round(col("inter").cast("double") / col("vocab_a").cast("double"), 6))
      .withColumn("containment_b",
        round(col("inter").cast("double") / col("vocab_b").cast("double"), 6))
  }

  /** Per-group robust score normalization — the step between scoring
    * and FILTERING when the corpus mixes sources: a raw quality
    * threshold applied globally mostly measures which source a doc
    * came from (sources have different score distributions), so each
    * score is re-expressed within its source as (a) a robust z:
    * (score − median) / IQR — outlier-insensitive, NULL when the IQR
    * degenerates to 0 (constant-score group) — and (b) the exact
    * percentile rank with id tie-breaks. Filter on these and every
    * source contributes its own best docs instead of whichever source
    * scores systematically high.
    *
    * Determinism: quantiles are EXACT linear interpolation
    * (`percentile` == DuckDB `quantile_cont` bit-for-bit, the q66
    * pin); percent_rank is (rank−1)/(n−1) over a fully tie-broken
    * order — integers divided once. Both normalized columns round
    * 6 dp.
    *
    * Scale: one group-keyed aggregation for the quantile triple
    * (exact percentile holds a group's scores in memory — per SOURCE,
    * a bounded cardinality; at extreme group sizes swap
    * `approx_percentile` in, same plan shape), a group-keyed join,
    * and ONE window exchange shared by the rank.
    *
    * @return (idCol, groupCol, scoreCol, robust_score, pct_rank)
    */
  def normalizeScores(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    val stats = scored.groupBy(col(groupCol))
      .agg(expr(s"percentile($scoreCol, 0.25)").as("q1"),
        expr(s"percentile($scoreCol, 0.5)").as("med"),
        expr(s"percentile($scoreCol, 0.75)").as("q3"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol), col(idCol))
    scored.join(stats, Seq(groupCol))
      .select(col(idCol), col(groupCol), col(scoreCol),
        round((col(scoreCol) - col("med")) /
          nullif(col("q3") - col("q1"), lit(0.0)), 6).as("robust_score"),
        round(percent_rank().over(w), 6).as("pct_rank"))
  }

  /** Full per-document stats frame. */
  def stats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("approx_bpe", approxBpeTokens(t))
      .withColumn("lang_pred", languageId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fp", fingerprint(t))
  }

  /** Reliability-diagram calibration bins, the companion diagnostic
    * to [[classifierAuc]]: AUC says the score RANKS positives above
    * negatives; calibration says whether the score's LEVEL means
    * anything — docs are cut into `bins` equal-count score bins
    * (deterministic total order: score then id, so the cut is
    * cross-engine exact) and each bin reports its observed positive
    * rate beside its mean score. A quality filter threshold is only
    * as trustworthy as these bins are monotone.
    *
    * The exact equal-count cut is a global NTILE — one total-order
    * sort, the oracle contract. At 100 TB swap the cut for
    * `approx_percentile` boundaries (map-side binning, no global
    * sort); the per-bin aggregation below is unchanged. Scores are
    * summed as DECIMAL(18,6) — exact and order-independent, so
    * `mean_score` is bit-stable — which requires the contract-rounded
    * ROUND(6) score the t15/t34 family already emits.
    */
  def calibrationBins(scored: DataFrame, scoreCol: String, idCol: String,
      isPositive: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    // two-pass range ntile keyed by the round-6 score value — no
    // corpus-sized single-partition sort (see perplexityBuckets)
    graft.ops.WindowOps.globalNtile(scored,
        key = col(scoreCol), keyDesc = false, ties = Seq(col(idCol)),
        buckets = bins, out = "bin")
      .withColumn("pos", when(isPositive, 1L).otherwise(0L))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("pos")).as("n_pos"),
        (sum(col("pos")).cast("double") / count(lit(1)).cast("double")).as("pos_rate"),
        (sum(col(scoreCol).cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_score"))
      .orderBy(col("bin"))
  }

  /** Byte-pair-encoding merge induction — the tokenizer-training core
    * (Sennrich et al. 2016) run distributed: k rounds of "count every
    * adjacent symbol pair weighted by word frequency, merge the most
    * frequent" over the corpus's word vocabulary. Completes the
    * tokenizer-prep story next to vocab coverage (t20), length
    * buckets (t39) and the epoch shuffle (t38): these ARE the merge
    * rules a BPE tokenizer ships.
    *
    * Scale shape is the whole point: the ONLY corpus-scale work is
    * the initial word-frequency aggregation (one partial-aggregated
    * exchange over lowercased `[a-z]+` word occurrences). Every merge
    * round then runs on the VOCABULARY frame — distinct words with
    * frequencies, kilobytes even for web-scale corpora — as k driver-
    * scheduled passes (the MMR/IVF pattern: bounded driver state, one
    * tiny argmax collect per round). The vocab frame re-materializes
    * per round (cache swap, previous round released) so round i
    * doesn't replay rounds 0..i−1.
    *
    * Determinism/portability contract (the t44 oracle replays the
    * SAME k rounds in SQL): symbols start as the word's characters
    * joined by single spaces; the round's winner is max summed
    * frequency with ties to the lexicographically smallest (l, r);
    * the merge rewrites every non-overlapping occurrence left-to-
    * right — implemented as plain substring replace on a
    * DOUBLE-SPACED copy (so adjacent matches never share a delimiter
    * space), then collapsing runs of spaces. `replace` is leftmost
    * non-overlapping in both engines, making the whole trajectory
    * reproducible bit-for-bit.
    *
    * The round loop is HYBRID (the RecursiveCte treatment, which
    * measured 3.6 s → sub-second here): vocabularies up to
    * `localVocabLimit` distinct words collect once and iterate on the
    * driver — trajectory-identical by construction (same counts, same
    * tie-break, same leftmost non-overlapping merge; a spec pins
    * local == distributed) — while larger vocabularies run each round
    * as distributed passes over a cache-swapped vocab frame. Either
    * way the corpus itself is touched exactly once.
    *
    * @return (round, left_sym, right_sym, merged, c) — one row per
    *         merge in order; fewer than k rows only if the vocabulary
    *         runs out of adjacent pairs
    */
  def bpeMerges(docs: DataFrame, textCol: String, k: Int,
      localVocabLimit: Long = 200000L): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1,64], got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = graft.ops.ScaleOps.fanOut(docs)
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
    val vocab0 = words.groupBy(col("word")).agg(count(lit(1)).as("f"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("s"), col("f"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    val cached = vocab0.cache()
    try {
      if (cached.count() <= localVocabLimit) {
        // driver-side rounds over the collected (symbols, freq) pairs
        var local: Array[(Array[String], Long)] = cached
          .collect().map(r => (r.getString(0).split(" "), r.getLong(1)))
        var round = 1
        var exhausted = false
        while (round <= k && !exhausted) {
          val counts = new java.util.HashMap[(String, String), Long]()
          local.foreach { case (syms, f) =>
            var i = 0
            while (i < syms.length - 1) {
              counts.merge((syms(i), syms(i + 1)), f, _ + _)
              i += 1
            }
          }
          if (counts.isEmpty) exhausted = true
          else {
            var best: ((String, String), Long) = null
            counts.forEach { (p, c) =>
              if (best == null || c > best._2 ||
                (c == best._2 && (p._1 < best._1._1 ||
                  (p._1 == best._1._1 && p._2 < best._1._2)))) best = (p, c)
            }
            val ((l, r), c) = best
            merges += ((round, l, r, l + r, c))
            local = local.map { case (syms, f) =>
              // leftmost non-overlapping merge — the array spelling of
              // the double-spaced substring replace
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < syms.length) {
                if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                  out += l + r; i += 2
                } else { out += syms(i); i += 1 }
              }
              (out.toArray, f)
            }
            round += 1
          }
        }
      } else {
        // distributed rounds: cache-swapped vocab frame, one tiny
        // argmax collect per round
        var vocab = cached
        var round = 1
        var exhausted = false
        while (round <= k && !exhausted) {
          val ts = split(col("s"), " ")
          val pairIdx = when(size(ts) >= 2, sequence(lit(0), size(ts) - 2))
            .otherwise(array().cast("array<int>"))
          val pairs = vocab
            .select(col("f"), explode(transform(pairIdx, j => struct(
              element_at(ts, j + 1).as("l"), element_at(ts, j + 2).as("r")))).as("p"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum(col("f")).as("c"))
            .orderBy(col("c").desc, col("l"), col("r"))
            .limit(1)
            .collect()
          pairs.headOption match {
            case None => exhausted = true
            case Some(row) =>
              val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
              merges += ((round, l, r, l + r, c))
              val doubled = concat(lit(" "),
                call_function("replace", col("s"), lit(" "), lit("  ")), lit(" "))
              val mergedS = trim(regexp_replace(
                call_function("replace", doubled, lit(s" $l  $r "), lit(s" $l$r ")),
                " +", " "))
              val next = vocab.select(mergedS.as("s"), col("f")).cache()
              next.count() // materialize before releasing the round's input
              if (!(vocab eq cached)) vocab.unpersist()
              vocab = next
              round += 1
          }
        }
        if (!(vocab eq cached)) vocab.unpersist()
      }
    } finally cached.unpersist()
    merges.toSeq.toDF("round", "left_sym", "right_sym", "merged", "c")
  }

  /** Unicode NFC canonicalization report: for each document, the
    * normalized text's fingerprint plus whether normalization changed
    * the bytes and how the codepoint count moved. Run AHEAD of exact
    * dedup / shingle hashing so byte-level keys are canonical —
    * composed `é` and `e`+U+0301 are different bytes but the same
    * text, and without this pass they defeat every hash-keyed
    * operator in the pipeline. Map-only (one codegen'd projection, no
    * shuffle); the `isNormalized` fast path makes the dominant
    * already-NFC case a scan with zero allocation.
    */
  def nfcReport(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val norm = graft.functions.TextNormalizeExpressions.nfc(t)
    docs.select(
      col(idCol),
      length(t).cast("long").as("n_in"),
      length(norm).cast("long").as("n_out"),
      (norm =!= t).as("changed"),
      md5(norm.cast("binary")).as("norm_md5"))
  }

  /** Flesch–Kincaid grade-level readability, the standard pick for
    * quality bucketing at corpus scale because every input is a cheap
    * regex count: words = `\S+` runs, sentences = `[.!?]+` runs,
    * syllables ≈ `[aeiouy]+` vowel-group runs in the lowercased text
    * (the classic approximation; exact syllabification needs a
    * dictionary). The word regex spells the whitespace class out as
    * `[^ \t\n\x0B\f\r]+` rather than `\S+` because Java's `\s`
    * includes U+000B and RE2's does not — the explicit class means
    * the same pattern text has identical semantics in both engines
    * on ANY corpus. Everything is a per-row scalar — pure codegen
    * projection, no shuffle — and the IEEE double arithmetic is
    * written in one fixed order so DuckDB reproduces it bit-for-bit.
    * Zero-sentence / zero-word docs clamp the denominators to 1
    * instead of dividing by zero.
    */
  def readability(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val nWords = size(regexp_extract_all(t, lit("[^ \\t\\n\\x0B\\f\\r]+"), lit(0))).cast("long")
    val nSents = size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).cast("long")
    val nSyll = size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))).cast("long")
    docs.select(col(idCol), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syll"))
      .withColumn("fk_grade",
        lit(0.39) * (col("n_words").cast("double") / greatest(col("n_sents"), lit(1L)).cast("double")) +
        lit(11.8) * (col("n_syll").cast("double") / greatest(col("n_words"), lit(1L)).cast("double")) -
        lit(15.59))
  }

  /** BPE tokenizer APPLICATION — the other half of [[bpeMerges]]:
    * encode every document with an induced merge list, the operation
    * a training pipeline runs over the WHOLE corpus after inducing
    * merges once (token counts for data budgeting, fertility =
    * chars/token for tokenizer quality, the encoded stream itself
    * for packing). Applying the merges in induction order IS
    * canonical BPE encoding: each later merge's operands can only be
    * products of earlier merges, so one in-order pass per rule equals
    * the rescan-after-every-merge formulation.
    *
    * Scale shape: the merge list is tokenizer-sized (k ≤ 64 rows of
    * driver state — the IVF-centroid pattern), and the whole encode
    * is ONE map-only pass: the [[graft.functions.BpeEncode]] kernel
    * applies all k rules as array passes over a single char scan
    * (the same leftmost non-overlapping rewrite [[bpeMerges]] uses,
    * so induction and application can't drift; the regex-chain
    * spelling survives as [[bpeEncodeComposable]], spec-pinned
    * identical and ~4x slower). No shuffle, no join — the corpus is
    * touched exactly once at scan speed, which is what makes this
    * viable at 100 TB where the corpus-sized frame must never
    * re-materialize.
    *
    * Words are lowercased `[a-z]+` runs joined by a `|` boundary
    * symbol (never part of any merge operand, so merges cannot cross
    * word boundaries — the per-word independence canonical BPE
    * requires, without exploding to one row per word).
    *
    * @param merges (left, right) pairs in induction order
    * @return (idCol, n_tokens, n_az_chars, fertility, enc_md5) —
    *         n_tokens excludes boundary symbols; fertility is
    *         chars/token rounded 6 dp (null for wordless docs);
    *         enc_md5 fingerprints the full encoded symbol stream
    */
  def bpeEncode(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame =
    bpeEncodeFrom(docs, idCol,
      graft.functions.BpeEncode(col(textCol), validated(merges)))

  /** The composable regexp/replace-chain spelling of [[bpeEncode]]'s
    * encode pass — k double-space/substring-replace/collapse rounds,
    * the direct Spark transliteration of the oracle SQL. Kept as the
    * reference semantics the [[graft.functions.BpeEncode]] kernel is
    * spec-pinned identical to (the lshBucketFold treatment): the
    * kernel is one char scan + k array passes, this chain is k full
    * regex passes over a doubled copy of every document (~4x the
    * kernel's wall at bench scale).
    */
  def bpeEncodeComposable(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    validated(merges)
    val joined = array_join(
      regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)), "|")
    var s: Column = trim(regexp_replace(joined, "(.)", "$1 "))
    merges.foreach { case (l, r) =>
      val doubled = concat(lit(" "),
        call_function("replace", s, lit(" "), lit("  ")), lit(" "))
      s = trim(regexp_replace(
        call_function("replace", doubled, lit(s" $l  $r "), lit(s" $l$r ")),
        " +", " "))
    }
    bpeEncodeFrom(docs, idCol, s)
  }

  private def validated(merges: Seq[(String, String)]): Seq[(String, String)] = {
    require(merges.nonEmpty, "merge list must be non-empty")
    require(merges.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty && (l + r).forall(c => c >= 'a' && c <= 'z') },
      "merge operands must be non-empty [a-z]+ symbols")
    merges
  }

  /** BPE round-trip + vocabulary audit — the inverse pass that closes
    * the t44/t45 tokenizer loop: decode every encoded document
    * (BPE decode IS token concatenation — merges only ever remove
    * separators) and prove encode∘decode = identity against the
    * normalized source stream, while checking every emitted token is
    * reachable from the vocabulary (a single `[a-z]` character, the
    * `|` word boundary, or the product `l+r` of a learned merge —
    * anything else means the encoder invented a symbol the decoder's
    * vocab can't hold). Reported per SOURCE with chars-per-token
    * compression — the number a data-mixing decision consumes
    * (pairs with t10's source mix and t49's budget select: a source
    * that compresses poorly costs more tokens per byte of text).
    *
    * Scale shape: ONE map-only encode pass (the [[graft.functions.BpeEncode]]
    * kernel; merge list and its k product symbols are literals baked
    * into the projection — nothing driver-side scales with the
    * corpus), then a partial-aggregated groupBy on the source key
    * (source cardinality ≪ corpus) — only per-doc scalars cross the
    * exchange.
    *
    * @param merges (left, right) pairs in induction order
    * @return (source, n_docs, n_roundtrip_ok, n_vocab_violations,
    *         n_tokens, n_chars, chars_per_token) — chars_per_token
    *         rounded 6 dp, null for token-free sources
    */
  def bpeRoundTripAudit(docs: DataFrame, textCol: String, srcCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val products = validated(merges).map { case (l, r) => l + r }
    val enc = graft.functions.BpeEncode(col(textCol), merges)
    val decoded = call_function("replace", col("enc"), lit(" "), lit(""))
    val norm = array_join(
      regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)), "|")
    val viol = size(filter(split(col("enc"), " "), t =>
      t =!= lit("") && t =!= lit("|") && !t.rlike("^[a-z]$") &&
        !t.isin(products: _*))).cast("long")
    // null text must agree with the oracle's COALESCE(..., '') token
    // stream: both sides treat a null-text doc as the empty stream
    // (rt_ok = 1, zero tokens/chars) instead of Spark null-propagating
    // through decoded === norm and silently counting it as a failure
    docs.select(col(srcCol).as("source"), col(textCol),
        coalesce(enc, lit("")).as("enc"))
      .select(col("source"),
        (decoded === coalesce(norm, lit(""))).cast("long").as("rt_ok"),
        viol.as("n_viol"),
        nTokensOf(col("enc")).as("n_tok"),
        nAzOf(col("enc")).as("n_ch"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rt_ok")).as("n_roundtrip_ok"),
        sum(col("n_viol")).as("n_vocab_violations"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_ch")).as("n_chars"))
      .withColumn("chars_per_token",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_chars").cast("double") /
            col("n_tokens").cast("double"), 6)))
  }

  /** Tokenizer FERTILITY by language — the per-language cost of a
    * tokenizer: chars-per-token for each predicted language
    * ([[withLanguageId]]'s t01 contract) under a given merge list.
    * The number multilingual data budgets are written around: a
    * language the BPE compresses poorly (its frequent pairs never
    * made the merge list) burns more of the token budget per byte of
    * text, so the same document share is a larger compute share —
    * this report is how that imbalance is seen BEFORE training.
    * t54 reports the same compression keyed by source; languages cut
    * across sources, and tokenizer equity audits key on language.
    *
    * Scale shape: ONE map-only projection computes both the language
    * scores and the encode ([[graft.functions.BpeEncode]] kernel —
    * merges are literals in the plan), then a |languages|-row
    * partial-aggregated rollup; only per-doc scalars cross the
    * exchange.
    *
    * @param merges (left, right) pairs in induction order
    * @return (lang_pred, n_docs, n_tokens, n_chars, fertility) —
    *         fertility rounded 6 dp, null for token-free languages
    */
  def tokenizerFertilityByLang(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val enc = graft.functions.BpeEncode(col(textCol), validated(merges))
    withLanguageId(docs, textCol)
      .select(col("lang_pred"), coalesce(enc, lit("")).as("enc"))
      .select(col("lang_pred"),
        nTokensOf(col("enc")).as("n_tok"),
        nAzOf(col("enc")).as("n_ch"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_ch")).as("n_chars"))
      .withColumn("fertility",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_chars").cast("double") /
            col("n_tokens").cast("double"), 6)))
  }

  private def bpeEncodeFrom(docs: DataFrame, idCol: String,
      enc: Column): DataFrame =
    docs
      .select(col(idCol), enc.as("enc"))
      .select(col(idCol),
        nTokensOf(col("enc")).as("n_tokens"),
        nAzOf(col("enc")).as("n_az_chars"),
        md5(col("enc")).as("enc_md5"))
      .withColumn("fertility",
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_az_chars").cast("double") /
            col("n_tokens").cast("double"), 6)))
      .select(col(idCol), col("n_tokens"), col("n_az_chars"),
        col("fertility"), col("enc_md5"))

  /** Deterministic MLM masking (BERT-style corruption, T5's iid
    * special case) — the sample-prep operator that turns a curated
    * corpus into masked-LM training rows. The mask decision for
    * position i of doc d is pure hash math — first hex digit of
    * md5("d:i") landing in `maskHex` (default {0,1,2} = 3/16 ≈ 18.75%
    * expected rate) — so the corruption is reproducible across runs,
    * engines, and partitionings: re-running the pipeline regenerates
    * byte-identical training data (the property that makes data
    * ablations comparable), and the oracle can replay every decision.
    *
    * Map-only: one codegen'd projection over the token array — no
    * shuffle, no RNG state, nothing driver-side. Tokens are the
    * whitespace-normalized lowercase stream the dedup family uses.
    *
    * @return (idCol, n_tokens, n_masked, mask_rate, masked_md5,
    *         targets_md5) — masked_md5 fingerprints the corrupted
    *         sequence ('[MASK]' substituted in place), targets_md5
    *         the '|'-joined masked-out tokens in order
    */
  def mlmMask(docs: DataFrame, textCol: String, idCol: String,
      maskHex: Seq[String] = Seq("0", "1", "2")): DataFrame = {
    require(maskHex.nonEmpty && maskHex.forall(h =>
      h.length == 1 && "0123456789abcdef".contains(h)),
      "maskHex must be single lowercase hex digits")
    // one-pass kernel over the normalized stream: the composable
    // HOF chain below ([[mlmMaskComposable]]) evaluated the per-token
    // md5 decision and both fingerprint rebuilds INTERPRETED per
    // element and profiled ~2.3 s at sf0.1; the kernel streams all
    // three digests in one token scan (the A/B is recorded in PLANS.md).
    // Round12Spec pins the two spellings bit-identical.
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    // id hashed in STRING form — agrees with the composable chain for
    // every id type (a long cast nulled non-numeric ids and collapsed
    // zero-padded ones, ADVICE r10); the REST mlm-mask processor feeds
    // arbitrary frames here
    val s = graft.functions.MlmExpressions.mlmMaskSummary(
      col(idCol).cast("string"), norm, maskHex)
    docs.select(col(idCol), s.as("s"))
      .select(col(idCol),
        col("s.n_tokens").as("n_tokens"),
        col("s.n_masked").as("n_masked"),
        round(col("s.n_masked").cast("double") /
          col("s.n_tokens").cast("double"), 6).as("mask_rate"),
        col("s.masked_md5").as("masked_md5"),
        col("s.targets_md5").as("targets_md5"))
  }

  /** The composable HOF spelling of [[mlmMask]] — kept as the
    * reference semantics the kernel is differentially pinned against
    * (the bpeEncodeComposable pattern): per-element md5 decisions via
    * zip_with + two array_join/md5 rebuilds.
    */
  def mlmMaskComposable(docs: DataFrame, textCol: String, idCol: String,
      maskHex: Seq[String] = Seq("0", "1", "2")): DataFrame = {
    require(maskHex.nonEmpty && maskHex.forall(h =>
      h.length == 1 && "0123456789abcdef".contains(h)),
      "maskHex must be single lowercase hex digits")
    val ts = split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " ")
    def cond(i: Column): Column =
      substring(md5(concat(col(idCol).cast("string"), lit(":"),
        i.cast("string"))), 1, 1).isin(maskHex: _*)
    val pairs = zip_with(ts, sequence(lit(1), size(ts)),
      (t, i) => struct(t.as("t"), cond(i).as("m")))
    val nMasked = size(filter(pairs, p => p.getField("m"))).cast("long")
    docs.select(col(idCol),
        size(ts).cast("long").as("n_tokens"),
        nMasked.as("n_masked"),
        md5(array_join(transform(pairs, p =>
          when(p.getField("m"), lit("[MASK]")).otherwise(p.getField("t"))),
          " ")).as("masked_md5"),
        md5(array_join(transform(filter(pairs, p => p.getField("m")),
          p => p.getField("t")), "|")).as("targets_md5"))
      .withColumn("mask_rate",
        round(col("n_masked").cast("double") / col("n_tokens").cast("double"), 6))
      .select(col(idCol), col("n_tokens"), col("n_masked"), col("mask_rate"),
        col("masked_md5"), col("targets_md5"))
  }

  /** Per-source unigram-distribution divergence from the corpus —
    * KL(P_source ‖ P_corpus) over the whitespace token vocabulary,
    * plus token/vocab volumes. The source-mix diagnostic that tells
    * you WHICH slices are distributionally far from the blend before
    * you set mixture weights (DoReMi-style reweighting starts from
    * exactly this table): a high-KL source dominates or starves
    * specific token modes; near-zero KL means the source is
    * distributionally redundant.
    *
    * Scale shape: ONE corpus-scale partial-aggregated exchange (the
    * (source, token) count); the global token distribution re-
    * aggregates that same frame (AQE reuses the exchange), and every
    * downstream join is vocabulary-sized. Strings shuffle once.
    * Per-term IEEE math is identical on both engines; the vocab-sized
    * ln-sum rounds 6 dp at the edge (the t19 discipline).
    *
    * @return (source, n_tokens, n_vocab, kl_corpus) ordered by source
    */
  def sourceKlReport(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val toks = graft.ops.ScaleOps.fanOut(docs)
      .select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("tok"))
    val sc = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val st = sc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val g = sc.groupBy(col("tok")).agg(sum(col("c")).as("cg"))
    val n = g.agg(sum(col("cg")).cast("double").as("nt"))
    val ps = col("c").cast("double") / col("ns").cast("double")
    val pg = col("cg").cast("double") / col("nt")
    sc.join(st, "source").join(g, "tok").crossJoin(broadcast(n))
      .groupBy(col("source"))
      .agg(
        max(col("ns")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        round(sum(ps * log(ps / pg)), 6).as("kl_corpus"))
      .orderBy(col("source"))
  }

  /** Trained language-ID evaluation: a multinomial Naive-Bayes
    * classifier (add-one smoothed token likelihoods + label priors,
    * trained on the corpus's own labels) predicts every document's
    * language, and the CONFUSION MATRIX against the labels comes
    * back — the evaluation step that decides whether the cheap
    * classifier can replace labels downstream (t01's fixed-stopword
    * heuristic has no trained likelihoods and no confusion audit).
    *
    * Per-class scores follow the t29 ln-count discipline: exact
    * integer counts, IEEE ln, ROUND(6) on the per-(doc, class) sum —
    * and the argmax orders by the ROUNDED score with the class label
    * as tie-break, so prediction is deterministic on any engine.
    *
    * Scale shape: corpus-sized work is the (doc, label, token) count
    * aggregation and the |classes|-way scoring join (classes are a
    * handful — the grid join is a broadcast of the class LIST, the
    * per-(token, class) likelihood table stays token-keyed); the
    * confusion rollup is |classes|² rows.
    *
    * @return (true_lang, pred_lang, n_docs)
    */
  def nbLangConfusion(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String): DataFrame = {
    val toks = graft.ops.ScaleOps.fanOut(docs).select(
      col(idCol).as("id"), col(labelCol).as("lab"),
      explode(split(col(textCol), " ")).as("tok"))
    val dc = toks.groupBy(col("id"), col("lab"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val cls = dc.groupBy(col("tok"), col("lab").as("cand"))
      .agg(sum(col("c")).as("ctl"))
    val nl = cls.groupBy(col("cand")).agg(sum(col("ctl")).as("nlang"))
    val v = cls.select(col("tok")).distinct()
      .agg(count(lit(1)).cast("double").as("v"))
    val langs = docs.select(col(labelCol).as("cand")).distinct()
    val priors = docs.groupBy(col(labelCol).as("cand"))
      .agg(count(lit(1)).as("ndl"))
    val ntot = docs.agg(count(lit(1)).cast("double").as("ntot"))
    // Shape note (A/B'd, PLANS.md round-12 triage): a per-token
    // class-count MAP variant (join once, explode after) measured
    // strictly SLOWER isolated at sf0.1 — 3.01/3.38 s vs this
    // spelling's 2.46/2.75 s — because the likelihood table is
    // vocabulary-sized (AQE broadcasts it; the 5× explosion never
    // crosses a shuffle) while the map build + per-row element_at
    // only added work. The exploded join stays.
    val contrib = col("c").cast("double") * log(
      (coalesce(col("ctl"), lit(0L)).cast("double") + lit(1.0)) /
        (col("nlang").cast("double") + col("v")))
    val scores = dc.crossJoin(broadcast(langs))
      .join(cls, Seq("tok", "cand"), "left")
      .join(broadcast(nl), Seq("cand"))
      .crossJoin(broadcast(v))
      .groupBy(col("id"), col("lab"), col("cand"))
      .agg(sum(contrib).as("s"))
      .join(broadcast(priors), Seq("cand"))
      .crossJoin(broadcast(ntot))
      .withColumn("score",
        round(col("s") + log(col("ndl").cast("double") / col("ntot")), 6) + lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("cand"))
    scores.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .groupBy(col("lab").as("true_lang"), col("cand").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Closed-form DISTRIBUTED model training: ridge regression
    * (X'X + λI)β = X'y solved exactly via Cramer's rule over two
    * integer text features (token count, distinct-token count) and a
    * 0/1 weak-supervision label — the linear-probe quality model a
    * pipeline trains when a full classifier is overkill. The entire
    * training pass is ONE map-side partial aggregation over the
    * corpus (9 sums); the 3×3 solve is a constant-size expression on
    * the 1-row stats frame; scoring broadcasts the coefficients back
    * as a map-only projection. No iteration, no driver loop, no
    * collect — the normal-equation sums are the only corpus-sized
    * exchange, so the shape is identical at 100 TB.
    *
    * Oracle-exactness: features and label are INTEGERS, so every
    * normal-equation sum is exact (BIGINT; bounded by n·maxTok² —
    * ~1e17 at trillion-token scale, within long range); determinants
    * and β run in DOUBLE with a fixed expression tree replicated
    * verbatim in the SQL oracle, so IEEE evaluation is bit-identical;
    * the 6-dp edge round is belt-and-braces.
    *
    * @param positive the 0/1 label column (e.g. lang = 'en')
    * @param lambda   ridge penalty added to the non-intercept diagonal
    * @return one row per doc: (id, n_tokens, n_types, label,
    *         beta0/1/2 rounded 8 dp, score rounded 6 dp)
    */
  def ridgeQualityScore(docs: DataFrame, textCol: String, idCol: String,
      positive: Column, lambda: Double = 10.0): DataFrame = {
    val feat = graft.ops.ScaleOps.fanOut(docs).select(
      col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("long").as("f1"),
      size(array_distinct(split(col(textCol), " "))).cast("long").as("f2"),
      when(positive, 1L).otherwise(0L).as("y"))
    val sums = feat.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("f1")).cast("double").as("s1"),
      sum(col("f2")).cast("double").as("s2"),
      sum(col("f1") * col("f1")).cast("double").as("s11"),
      sum(col("f1") * col("f2")).cast("double").as("s12"),
      sum(col("f2") * col("f2")).cast("double").as("s22"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("f1") * col("y")).cast("double").as("s1y"),
      sum(col("f2") * col("y")).cast("double").as("s2y"))
    // Cramer's rule on A = [[n,s1,s2],[s1,s11+λ,s12],[s2,s12,s22+λ]],
    // b = [sy,s1y,s2y]. The expression TREES below are mirrored
    // character-for-character in the oracle SQL — same operand order,
    // same parenthesization — so the doubles are bit-identical.
    val l = lit(lambda)
    def dets(c: DataFrame): DataFrame = c.select(
      (col("n") * ((col("s11") + l) * (col("s22") + l) - col("s12") * col("s12"))
        - col("s1") * (col("s1") * (col("s22") + l) - col("s12") * col("s2"))
        + col("s2") * (col("s1") * col("s12") - (col("s11") + l) * col("s2")))
        .as("det"),
      (col("sy") * ((col("s11") + l) * (col("s22") + l) - col("s12") * col("s12"))
        - col("s1") * (col("s1y") * (col("s22") + l) - col("s12") * col("s2y"))
        + col("s2") * (col("s1y") * col("s12") - (col("s11") + l) * col("s2y")))
        .as("det0"),
      (col("n") * (col("s1y") * (col("s22") + l) - col("s12") * col("s2y"))
        - col("sy") * (col("s1") * (col("s22") + l) - col("s12") * col("s2"))
        + col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2")))
        .as("det1"),
      (col("n") * ((col("s11") + l) * col("s2y") - col("s1y") * col("s12"))
        - col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
        + col("sy") * (col("s1") * col("s12") - (col("s11") + l) * col("s2")))
        .as("det2"))
    val solve = dets(sums)
    feat.crossJoin(broadcast(solve))
      .select(col("id"),
        col("f1").as("n_tokens"), col("f2").as("n_types"), col("y").as("label"),
        (round(col("det0") / col("det"), 8) + lit(0.0)).as("beta0"),
        (round(col("det1") / col("det"), 8) + lit(0.0)).as("beta1"),
        (round(col("det2") / col("det"), 8) + lit(0.0)).as("beta2"),
        (round(col("det0") / col("det") +
          (col("det1") / col("det")) * col("f1").cast("double") +
          (col("det2") / col("det")) * col("f2").cast("double"), 6) + lit(0.0))
          .as("score"))
  }

  private def nTokensOf(enc: Column): Column =
    size(filter(split(enc, " "),
      t => t =!= lit("|") && t =!= lit(""))).cast("long")

  private def nAzOf(enc: Column): Column =
    length(call_function("replace",
      call_function("replace", enc, lit(" "), lit("")), lit("|"), lit(""))).cast("long")
}
