package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}

/** The sf0.1-shaped tables the workloads query: `lineitem` (600k rows),
  * `orders` (150k), `customer` (15k), `nation` (25), `documents` (5000)
  * and `embeddings` (2000 x 64-d). They are a fixed fixture, generated
  * once from a constant seed and kept under the state directory; the
  * run seed drives the request stream, not the tables.
  *
  * Every double column holds dyadic values (quarters, 1/128ths), so sums
  * and products are exact in any order and a response can be compared
  * with the expected answer bit for bit.
  */
object Fixture {

  val Version = "v1"
  val Tables = Seq("lineitem", "orders", "customer", "nation", "documents", "embeddings")
  val EmbeddingRows = 2000
  val EmbeddingDim = 64
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Directory holding one `<table>.parquet` per table, built if absent. */
  def ensure(spark: SparkSession, stateDir: Path): Path = {
    val dir = stateDir.resolve(s"fixture-$Version")
    if (!Files.isDirectory(dir)) {
      val tmp = stateDir.resolve(s"fixture-$Version.tmp-${ProcessHandle.current().pid()}")
      write(spark, tmp)
      Files.move(tmp, dir)
    }
    dir
  }

  def path(dir: Path, table: String): String = dir.resolve(s"$table.parquet").toString

  private def write(spark: SparkSession, dir: Path): Unit = {
    def save(name: String, df: DataFrame): Unit =
      df.write.parquet(dir.resolve(s"$name.parquet").toString)
    def h(salt: Int, mod: Long) = pmod(xxhash64(col("id"), lit(salt)), lit(mod))
    def pick(salt: Int, values: Seq[String]) =
      element_at(array(values.map(lit): _*), (h(salt, values.size.toLong) + 1).cast("int"))
    def day(salt: Int, span: Int) =
      date_add(lit("1995-01-01").cast("date"), h(salt, span.toLong).cast("int"))

    save("lineitem", spark.range(0, 600000, 1, 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      h(1, 20000).as("l_partkey"),
      h(2, 1000).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(3, 50) + 1).cast("double").as("l_quantity"),
      ((h(4, 400000) + 4000) / 4.0).as("l_extendedprice"),
      (h(5, 11) / 128.0).as("l_discount"),
      (h(6, 9) / 128.0).as("l_tax"),
      pick(7, Seq("N", "A", "R")).as("l_returnflag"),
      pick(8, Seq("O", "F")).as("l_linestatus"),
      day(9, 2500).as("l_shipdate")))
    save("orders", spark.range(0, 150000, 1, 4).select(
      col("id").as("o_orderkey"),
      h(11, 15000).as("o_custkey"),
      pick(12, Seq("O", "F", "P")).as("o_orderstatus"),
      ((h(13, 2000000) + 4000) / 4.0).as("o_totalprice"),
      day(14, 2400).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("customer", spark.range(0, 15000, 1, 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      h(21, 25).cast("int").as("c_nationkey"),
      ((h(22, 44000) - 4000) / 4.0).as("c_acctbal"),
      pick(23, Segments).as("c_mktsegment")))
    save("nation", spark.range(0, 25, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    val vocab = Seq("spark", "query", "table", "scan", "join", "hash", "sort", "window",
      "vector", "stream", "batch", "group", "filter", "order", "value", "key", "row",
      "column", "part", "line", "data", "fast", "slow", "big", "small", "merge", "agg",
      "index", "graph", "cache", "plan", "shuffle", "stage", "task", "the", "a", "of",
      "session", "server", "arrow")
    val words = transform(sequence(lit(1), (h(31, 80) + 8).cast("int")),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(col("id"), i), lit(vocab.size.toLong)) + 1).cast("int")))
    save("documents", spark.range(0, 5000, 1, 1)
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        pick(32, Seq("en", "en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), (col("id") % 5).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", embeddings(spark))
  }

  /** Unit vectors around ten seeded cluster centres, so nearest
    * neighbours are meaningful and ANN recall is well below 1 when an
    * index cuts corners.
    */
  private def embeddings(spark: SparkSession): DataFrame = {
    val rng = new java.util.Random(20261017L)
    val centres = Array.fill(10, EmbeddingDim)(rng.nextGaussian())
    val rows = (0 until EmbeddingRows).map { i =>
      val label = rng.nextInt(10)
      val v = Array.tabulate(EmbeddingDim)(d => centres(label)(d) + 0.9 * rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
