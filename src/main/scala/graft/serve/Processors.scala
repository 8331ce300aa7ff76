package graft.serve

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Post-processor registry — the Spark-native answer to the
  * reference's Python processor plugins (`lib/src/plugin/
  * exec_processor.rs:10-33`, shipped example
  * `bin/plugins/processor-plugin-pivot-table/plugin_main.py`).
  *
  * The reference hands each query result through a chain of named
  * Python modules (RecordBatch → pandas → RecordBatch on the server
  * thread). Running CPython in-process is neither possible nor
  * desirable in a JVM/Spark server; the idiomatic equivalent is a
  * registry of named DataFrame → DataFrame transforms: embedders
  * register Scala processors at startup, requests reference them by
  * module name, and the transform stays a lazy distributed plan —
  * applied BEFORE collect, so a pivot/aggregation processor reduces
  * the rows that reach the driver instead of post-processing a
  * buffered result (the reference materializes the full result
  * first; `response/handler/dataframe.rs:56` forces buffering
  * whenever processors are present).
  *
  * Built-ins mirror the reference's shipped plugin surface:
  * `pivot-table` (values/index/columns, mean aggregation — the
  * pandas `pivot_table` defaults the example relies on).
  */
object Processors {

  /** A named post-processor: (query result, pluginOptions) → result. */
  type Processor = (DataFrame, Map[String, JsonNode]) => DataFrame

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Processor]()

  /** Register/replace a processor under a module name (the embedding
    * application's extension point, like dropping a plugin dir next
    * to the reference binary).
    */
  def register(module: String, p: Processor): Unit = registry.put(module, p)

  /** Apply a processor chain in request order. Unknown modules fail
    * the request (reference: request validation error).
    */
  def applyAll(df: DataFrame, chain: Seq[Api.PostProcessorReq]): DataFrame =
    chain.foldLeft(df) { (cur, p) =>
      val f = registry.get(p.module)
      if (f == null)
        throw new IllegalArgumentException(s"unknown processor module: ${p.module}")
      f(cur, p.options)
    }

  // ----- built-ins ------------------------------------------------

  private def strOpt(o: Map[String, JsonNode], k: String): Option[String] =
    o.get(k).filterNot(_.isNull).map(_.asText())

  private def strList(o: Map[String, JsonNode], k: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    o.get(k).toSeq.flatMap { n =>
      if (n.isArray) n.elements().asScala.map(_.asText()).toSeq
      else Seq(n.asText())
    }
  }

  /** `pivot-table`: index rows, one column per distinct `columns`
    * value, mean of `values` in each cell — the reference example's
    * pandas `pivot_table(values, index, columns)` semantics,
    * expressed as the native groupBy().pivot() plan (distributed,
    * partial-aggregated; not a driver-side pandas pass).
    */
  register("pivot-table", (df, opts) => {
    val values = strOpt(opts, "values").getOrElse(
      throw new IllegalArgumentException("pivot-table: pluginOptions.values required"))
    val index = strList(opts, "index")
    val columns = strOpt(opts, "columns").getOrElse(
      throw new IllegalArgumentException("pivot-table: pluginOptions.columns required"))
    require(index.nonEmpty, "pivot-table: pluginOptions.index required")
    df.groupBy(index.map(col): _*)
      .pivot(columns)
      .agg(avg(col(values)))
      .orderBy(index.map(col): _*)
  })

  /** `select-columns`: project/reorder (`columns` list) — the tiny
    * "shape the response" processor users otherwise write in Python.
    */
  register("select-columns", (df, opts) => {
    val cols = strList(opts, "columns")
    require(cols.nonEmpty, "select-columns: pluginOptions.columns required")
    df.select(cols.map(col): _*)
  })

  /** `hash-split`: append the deterministic md5 train/val/test
    * `split` column ([[graft.pipeline.Sampling.hashSplit]]) to any
    * query result — the pipeline operator surfaced on the REST route,
    * so an API user tags a result set reproducibly without shipping
    * code. Options: `idColumn` (required); `splits` as an ARRAY of
    * `{name, fraction}` in order (default 80/10/10 train/val/test) —
    * an array, not an object, because split boundaries depend on
    * declaration order and JSON object key order is not something a
    * wire contract may lean on (Jackson happily reorders). Stays a
    * scan-stage projection — lazy, no shuffle, applied before collect
    * like every processor.
    */
  register("hash-split", (df, opts) => {
    import scala.jdk.CollectionConverters._
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("hash-split: pluginOptions.idColumn required"))
    val splits: Seq[(String, Double)] = opts.get("splits") match {
      case Some(n) if n.isArray =>
        n.elements().asScala.map { e =>
          // validate, don't dereference: a typo'd key would NPE into a
          // 500 where the route contract promises a 400 for bad input
          val name = Option(e.get("name")).filter(_.isTextual).getOrElse(
            throw new IllegalArgumentException(
              "hash-split: each splits element needs a string 'name'"))
          val frac = Option(e.get("fraction")).filter(_.isNumber).getOrElse(
            throw new IllegalArgumentException(
              "hash-split: each splits element needs a numeric 'fraction'"))
          name.asText() -> frac.asDouble()
        }.toSeq
      case Some(_) =>
        throw new IllegalArgumentException(
          "hash-split: splits must be an array of {name, fraction}")
      case None => Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    }
    graft.pipeline.Sampling.hashSplit(df, idCol, splits)
  })

  private def intOpt(o: Map[String, JsonNode], k: String): Option[Int] =
    o.get(k).filter(_.isNumber).map(_.asInt())

  /** Long-valued option: token budgets in the billions are the NORMAL
    * case for budget-select, and Jackson's asInt() silently truncates
    * above Int.MaxValue. Rejects non-integral numbers instead of
    * rounding them.
    */
  private def longOpt(o: Map[String, JsonNode], k: String): Option[Long] =
    o.get(k).filter(_.isNumber).map { n =>
      require(n.canConvertToLong && (n.isIntegralNumber ||
          n.asDouble() == n.asDouble().floor),
        s"$k must be an integral value that fits in a 64-bit long, got $n")
      n.asLong()
    }

  /** `drop-common-chunks`: the boilerplate-removal rebuild
    * ([[graft.pipeline.Dedup.dropCommonChunks]]) surfaced on the REST
    * chain — an API user dedups a text result set without shipping
    * code. Options: `textColumn`/`idColumn` (required),
    * `chunkTokens` (default 8), `maxDf` (default 2). Like every
    * processor the transform stays a lazy distributed plan; the
    * result carries (id, text_kept, n_chunks, n_kept, n_dropped).
    */
  register("drop-common-chunks", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("drop-common-chunks: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("drop-common-chunks: pluginOptions.idColumn required"))
    graft.pipeline.Dedup.dropCommonChunks(df, textCol, idCol,
      chunkTokens = intOpt(opts, "chunkTokens").getOrElse(8),
      maxDf = intOpt(opts, "maxDf").getOrElse(2).toLong)
  })

  /** `drop-duplicated-spans`: the Lee-et-al exact-substring-dedup
    * rebuild ([[graft.pipeline.Dedup.dropDuplicatedSpans]]) on the
    * REST chain. Options: `textColumn`/`idColumn` (required),
    * `windowTokens` (default 6), `minOccurs` (default 2).
    */
  register("drop-duplicated-spans", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("drop-duplicated-spans: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("drop-duplicated-spans: pluginOptions.idColumn required"))
    graft.pipeline.Dedup.dropDuplicatedSpans(df, textCol, idCol,
      k = intOpt(opts, "windowTokens").getOrElse(6),
      minOccurs = intOpt(opts, "minOccurs").getOrElse(2))
  })

  /** `nfc-normalize`: Unicode NFC canonicalization of a text column
    * in place ([[graft.functions.TextNormalizeExpressions.nfc]]) —
    * the normalize-before-hashing step on the REST chain, so API
    * users canonicalize a result set's text before piping it into
    * `hash-split` / the dedup rebuilds without shipping code.
    * Options: `textColumn` (required). Stays a scan-stage codegen
    * projection; the already-NFC fast path makes it a free pass on
    * clean data.
    */
  register("nfc-normalize", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("nfc-normalize: pluginOptions.textColumn required"))
    require(df.columns.contains(textCol), s"nfc-normalize: no column '$textCol'")
    df.withColumn(textCol,
      graft.functions.TextNormalizeExpressions.nfc(col(textCol)))
  })

  /** `budget-select`: token-budget greedy selection
    * ([[graft.pipeline.Sampling.tokenBudgetSelect]]) on the REST
    * chain — "give me the best rows of this result until B tokens
    * are spent" without shipping code. Options: `textColumn`/
    * `idColumn`/`budget` (required); priority defaults to
    * distinct-token count. Returns the selected
    * (doc_id, priority, n_tokens, cum_before) rows.
    */
  register("budget-select", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("budget-select: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("budget-select: pluginOptions.idColumn required"))
    val budget = longOpt(opts, "budget").getOrElse(
      throw new IllegalArgumentException("budget-select: pluginOptions.budget required"))
    graft.pipeline.Sampling.tokenBudgetSelect(df, textCol, idCol, budget)
  })

  /** `mlm-mask`: deterministic MLM corruption fingerprints
    * ([[graft.pipeline.TextAnalysis.mlmMask]], the one-pass kernel)
    * on the REST chain — masked-LM sample prep as a post-processor.
    * Options: `textColumn`/`idColumn` (required).
    */
  register("mlm-mask", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("mlm-mask: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("mlm-mask: pluginOptions.idColumn required"))
    graft.pipeline.TextAnalysis.mlmMask(df, textCol, idCol)
  })

  private def longList(o: Map[String, JsonNode], k: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    o.get(k).toSeq.flatMap { n =>
      if (n.isArray) n.elements().asScala.map(_.asLong()).toSeq
      else Seq(n.asLong())
    }
  }

  /** `perplexity-buckets`: the CCNet head/middle/tail table
    * ([[graft.pipeline.TextAnalysis.perplexityBuckets]]) over any
    * query result — the curation planner on the REST chain. Options:
    * `textColumn`/`idColumn` (required), `buckets` (default 10).
    */
  register("perplexity-buckets", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("perplexity-buckets: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("perplexity-buckets: pluginOptions.idColumn required"))
    val buckets = intOpt(opts, "buckets").getOrElse(10)
    graft.pipeline.TextAnalysis.perplexityBuckets(df, textCol, idCol,
      buckets = buckets)
  })

  /** `packing-waste`: the context-length planner
    * ([[graft.pipeline.Sampling.packingWasteCurve]]) over any query
    * result. Options: `textColumn`/`idColumn`/`groupColumn`
    * (required), `budgets` (int list, default 128/256/512/1024).
    */
  register("packing-waste", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("packing-waste: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("packing-waste: pluginOptions.idColumn required"))
    val groupCol = strOpt(opts, "groupColumn").getOrElse(
      throw new IllegalArgumentException("packing-waste: pluginOptions.groupColumn required"))
    val budgets = longList(opts, "budgets") match {
      case Nil => Seq(128L, 256L, 512L, 1024L)
      case bs => bs
    }
    graft.pipeline.Sampling.packingWasteCurve(df, textCol, idCol, groupCol,
      budgets)
  })

  private def doubleOpt(o: Map[String, JsonNode], k: String): Option[Double] =
    o.get(k).filterNot(_.isNull).map(_.asDouble())

  /** `percentile-gate`: the per-source percentile-vs-raw admission
    * report ([[graft.pipeline.TextAnalysis.percentileGateBySource]])
    * on the REST chain — API users measure what a raw threshold would
    * do to their source mix before shipping a gate. Options:
    * `textColumn`/`idColumn`/`sourceColumn` (required), `topFrac`
    * (default 0.4), `rawThreshold` (default 0.55).
    */
  register("percentile-gate", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("percentile-gate: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("percentile-gate: pluginOptions.idColumn required"))
    val srcCol = strOpt(opts, "sourceColumn").getOrElse(
      throw new IllegalArgumentException("percentile-gate: pluginOptions.sourceColumn required"))
    graft.pipeline.TextAnalysis.percentileGateBySource(df, textCol, idCol,
      srcCol, doubleOpt(opts, "topFrac").getOrElse(0.4),
      doubleOpt(opts, "rawThreshold").getOrElse(0.55))
  })

  /** `fuzzy-decontaminate`: DROP rows whose max Jaccard against a
    * registered benchmark table reaches τ
    * ([[graft.pipeline.Decontaminate.fuzzyContamination]]'s flag set,
    * anti-joined) — the near-match decontamination pass as a REST
    * post-processor. Options: `textColumn`/`idColumn`/`sourceColumn`
    * (required), `benchmarkTable` (required — a registered view in
    * the session), `tau` (default 0.5).
    */
  register("fuzzy-decontaminate", (df, opts) => {
    val textCol = strOpt(opts, "textColumn").getOrElse(
      throw new IllegalArgumentException("fuzzy-decontaminate: pluginOptions.textColumn required"))
    val idCol = strOpt(opts, "idColumn").getOrElse(
      throw new IllegalArgumentException("fuzzy-decontaminate: pluginOptions.idColumn required"))
    val srcCol = strOpt(opts, "sourceColumn").getOrElse(
      throw new IllegalArgumentException("fuzzy-decontaminate: pluginOptions.sourceColumn required"))
    val benchTable = strOpt(opts, "benchmarkTable").getOrElse(
      throw new IllegalArgumentException("fuzzy-decontaminate: pluginOptions.benchmarkTable required"))
    val tau = doubleOpt(opts, "tau").getOrElse(0.5)
    val bench = df.sparkSession.table(benchTable)
    val flagged = graft.pipeline.Decontaminate.fuzzyContamination(
      df, bench, textCol, idCol, srcCol, tau = tau)
      .select(org.apache.spark.sql.functions.col(idCol))
    df.join(flagged, Seq(idCol), "left_anti")
  })
}
