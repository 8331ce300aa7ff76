package graft.tools

/** Dev harness: write `explain("formatted")` for named SparkEntry
  * queries to individual files — the per-query before/after plan
  * evidence an optimization round commits under plans/rNN/. Not part
  * of the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PlanSnap plans/r16 _before s47_graph_beam_search ..."
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.EngineConf.local(4)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n"))
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case t: Throwable => s"PLAN FAILED: ${t.getMessage}" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$n$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plansnap] wrote $outDir/$n$suffix.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
