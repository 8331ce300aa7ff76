package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session settings shared by every session builder
  * (Bench, Verify, the REST server, the dev tools) so a measurement
  * taken in one harness describes the others.
  *
  * [[tuned]] pins AQE's partition coalescing at Spark's stock values.
  * Byte-based coalescing (`parallelismFirst=false`, a larger advisory
  * size, cached-plan AQE on) was A/B'd at both measured scales and
  * lost at both: at sf0.1 (round 15) it cut s47's tasks 2440→832 but
  * made walls worse or flat (d38 2.69→6.36 s, d39 4.28→8.16 s, s47
  * 3.91→4.90 s); at 10× (round 16, ScaleSmoke) it lost harder (d02
  * 16.9→251 s, d22 20.4→231 s, d39 32→253 s, s47 7.3→12.2 s). The
  * suite's heavy exchanges feed CPU-dense pair-expansion stages, and
  * coalescing to a byte target serializes that quadratic work
  * (OPTIMIZATION_r16.md §7 has the 10× table).
  */
object EngineConf {
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")

  /** A [[tuned]] local-mode builder: `local[cpus]` with one shuffle
    * partition per core, UTC session time, AQE on, no UI.
    */
  def local(cpus: Int): SparkSession.Builder = tuned(SparkSession.builder())
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
}
