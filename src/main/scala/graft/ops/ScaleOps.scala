package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: the shuffle-shaping tools a 100 TB deployment
  * reaches for when AQE alone isn't enough.
  */
object ScaleOps {

  /** Two-phase salted aggregation for skewed keys.
    *
    * A single hot key (one giant customer, an empty-string URL, …)
    * sends its entire group through one reducer. Salting splits each
    * key into `saltBuckets` sub-groups aggregated in parallel
    * (phase 1), then combines the partials per original key
    * (phase 2) — the classic two-level combine. Works for any
    * algebraic aggregate expressed as (partial, merge) pairs; this
    * helper covers the common count/sum/min/max family.
    *
    * The default salt is `monotonically_increasing_id() % buckets`:
    * the salt only decides which partial a row lands in, and the
    * merged result is the same for ANY partition of the rows (the
    * aggregates are commutative monoids), so task-retry
    * nondeterminism of the id cannot change the answer — while
    * guaranteeing identical hot rows still fan out (a hash of the
    * row's columns would put identical rows in one bucket, giving
    * zero relief for the classic identical-duplicates hot key).
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      aggs: Seq[(String, String, String)], // (fn: count|sum|min|max, col, alias)
      saltBuckets: Int = 16,
      saltSource: Option[Column] = None): DataFrame = {
    require(saltBuckets > 0)
    val salt = pmod(
      saltSource.map(hash(_)).getOrElse(monotonically_increasing_id()),
      lit(saltBuckets)).as("__salt")
    val keyCols = keys.map(col)
    // phase 1: aggregate per (keys, salt) — hot keys fan out over
    // saltBuckets reducers
    val partialAggs = aggs.map {
      case ("count", c, a) => count(if (c == "*") lit(1) else col(c)).as(s"__p_$a")
      case ("sum", c, a)   => sum(col(c)).as(s"__p_$a")
      case ("min", c, a)   => min(col(c)).as(s"__p_$a")
      case ("max", c, a)   => max(col(c)).as(s"__p_$a")
      case (f, _, _) => throw new IllegalArgumentException(s"unsupported agg: $f")
    }
    val partial = df.withColumn("__salt", salt)
      .groupBy((keyCols :+ col("__salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    // phase 2: merge partials per key — input is at most
    // #keys × saltBuckets rows, skew is gone
    val mergeAggs = aggs.map {
      case ("count", _, a) => sum(col(s"__p_$a")).as(a)
      case ("sum", _, a)   => sum(col(s"__p_$a")).as(a)
      case ("min", _, a)   => min(col(s"__p_$a")).as(a)
      case ("max", _, a)   => max(col(s"__p_$a")).as(a)
      case (f, _, _) => throw new IllegalArgumentException(s"unsupported agg: $f")
    }
    partial.groupBy(keyCols: _*).agg(mergeAggs.head, mergeAggs.tail: _*)
  }

  /** Persist both sides bucketed by the join key so subsequent joins
    * are exchange-free (co-located bucket join). This is the
    * pre-partitioning story for repeatedly-joined 100 TB tables: pay
    * one shuffle at write time, join with zero shuffles forever after.
    *
    * Returns the bucketed tables as DataFrames.
    */
  def bucketedPair(
      spark: SparkSession,
      left: DataFrame, leftName: String, leftKey: String,
      right: DataFrame, rightName: String, rightKey: String,
      buckets: Int = 8): (DataFrame, DataFrame) = {
    def write(df: DataFrame, name: String, key: String): Unit =
      df.write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", s"${spark.conf.get("spark.sql.warehouse.dir")}/$name")
        .saveAsTable(name)
    write(left, leftName, leftKey)
    write(right, rightName, rightKey)
    (spark.table(leftName), spark.table(rightName))
  }

  /** Fan an under-split scan out to the cluster's parallelism before
    * CPU-heavy per-row work (regex, hashing, N² similarity kernels).
    *
    * A parquet file is splittable only at row-group granularity, so a
    * single-row-group file — however many cores the cluster has —
    * arrives as ONE partition and serializes everything up to the
    * first exchange on one core. At production scale inputs already
    * arrive in thousands of splits and this is a no-op (the condition
    * fails); it only pays the small round-robin shuffle when the scan
    * is narrower than the cluster. Catalyst still pushes filters and
    * column pruning through the Repartition to the scan, so pushdown
    * is preserved.
    */
  def fanOut(df: DataFrame): DataFrame = {
    // Probe discipline: under AQE, df.rdd on a plan containing ANY
    // exchange materializes its query stages — the upstream shuffle
    // would run eagerly at plan-construction time and again at
    // execution. So the partition probe only runs on plans that are
    // provably exchange-free: scan/local data under narrow operators
    // (project/filter/alias/generators). Anything else either was
    // already fanned out (Repartition present → skip) or comes out of
    // a shuffle already at cluster width (groupBy/join output → a
    // further repartition would add nothing).
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.classic.{Dataset => CDS}
    val logical = df.asInstanceOf[CDS[org.apache.spark.sql.Row]].queryExecution.analyzed
    val probeSafe = logical.collect { case n => n }.forall {
      case _: Project | _: Filter | _: SubqueryAlias | _: Generate | _: View => true
      case leaf if leaf.children.isEmpty => true
      case _ => false
    }
    if (!probeSafe) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }
}
