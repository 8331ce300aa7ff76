package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkProbeAccess

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** End-of-run leak checks, taken once every session is deleted: cached
  * blocks and plans, session spool directories, threads started since
  * before the first setup, and the heap retained after a full GC. A leak
  * is reported as a failed check.
  *
  * A non-daemon thread started during the run and still alive counts as
  * leaked: nothing reclaims it, and it keeps the JVM from exiting. New
  * daemon threads are reported as a count: the engine starts pools and
  * event loops lazily (and idle pool workers expire), so their growth is
  * not by itself a leak. The load generator's own threads (its clients,
  * the JDK HTTP client's keep-alive timer) are left out.
  */
object Hygiene {

  /** Ids of the live threads. */
  def threads(): Set[Long] = Thread.getAllStackTraces.keySet.asScala.filter(_.isAlive).map(_.getId).toSet

  private def fold(t: Thread) = t.getName.replaceAll("[0-9]+", "N")

  private def ours(t: Thread): Boolean =
    t.getName.startsWith("perfbench-") || t.getName == "Keep-Alive-Timer"

  final case class Report(rddBlocks: Int, cachedRdds: Seq[String], cachedPlans: Boolean, spoolDirs: Int,
      threadDelta: Map[String, Int], daemons: Int, retainedHeapMb: Double) {
    def failures: Seq[String] =
      (if (rddBlocks > 0) Seq(s"$rddBlocks cached RDD blocks remain (${cachedRdds.mkString(", ")})") else Nil) ++
        (if (cachedPlans) Seq("cached plans remain in the cache manager") else Nil) ++
        (if (spoolDirs > 0) Seq(s"$spoolDirs graft-session-* spool dirs remain") else Nil) ++
        (if (threadDelta.nonEmpty)
          Seq(s"${threadDelta.values.sum} non-daemon threads started during the run are still alive (" +
            threadDelta.toSeq.sortBy(-_._2).map { case (k, v) => s"$k +$v" }.mkString(", ") + ")")
        else Nil)

    def line: String = {
      val f = failures
      f"hygiene: rdd_blocks=$rddBlocks cached_plans=$cachedPlans spool_dirs=$spoolDirs " +
        f"leaked_threads=${threadDelta.values.sum} new_daemon_threads=$daemons " +
        f"retained_heap_mb=$retainedHeapMb%.1f -> " +
        (if (f.isEmpty) "ok" else "FAILED: " + f.mkString("; "))
    }
  }

  def check(spark: SparkSession, before: Set[Long]): Report = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val spools = {
      val s = java.nio.file.Files.list(tmp)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("graft-session-"))
      finally s.close()
    }
    // unpersist and thread exits are asynchronous: give them a moment
    val until = System.nanoTime() + 1000000000L
    while (SparkProbeAccess.rddBlocks() > 0 && System.nanoTime() < until) Thread.sleep(100)
    Thread.sleep(300)
    val fresh = Thread.getAllStackTraces.asScala.toSeq
      .filter { case (t, _) => t.isAlive && !before.contains(t.getId) && !ours(t) }
    val (daemons, kept) = fresh.map(_._1).partition(_.isDaemon)
    val delta = kept.groupBy(fold).map { case (k, v) => k -> v.size }
    // the engine's context cleaner drops weakly held accumulators, shuffles
    // and broadcasts on its own thread once a GC has cleared them: give it
    // time, then collect what it released
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      .map(r => s"rdd ${r.id} ${r.name.take(60)}").toSeq
    Report(SparkProbeAccess.rddBlocks(), rdds, SparkProbeAccess.cachedPlans(spark), spools, delta,
      daemons.size, heap)
  }
}
