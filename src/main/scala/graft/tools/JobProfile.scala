package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev harness for overhead triage: run named SparkEntry queries with
  * a listener tallying Spark jobs, stages, tasks and shuffle bytes —
  * the numbers that show whether a query's wall is data volume or
  * fixed scheduling overhead (guide §1: decide WHERE the time goes
  * before touching anything). Not part of the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobProfile s47_graph_beam_search"
  */
object JobProfile {
  private class Tally extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0L)
      shufWrite.set(0L); shufRead.set(0L)
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.toSeq
    require(names.nonEmpty, "pass query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.EngineConf.local(cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    names.foreach { n =>
      val q = graft.SparkEntry.queries(n)
      // warm (index builds, codegen)
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      // listener bus is async; a short pause lets the warm pass's
      // events drain before the measured tally starts
      Thread.sleep(500)
      tally.reset()
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(500)
      println(f"[jobprofile] $n%-32s wall=$wall%7.3f jobs=${tally.jobs.get}%4d " +
        f"stages=${tally.stages.get}%4d tasks=${tally.tasks.get}%6d " +
        f"shufW=${tally.shufWrite.get / 1024}%8d KiB shufR=${tally.shufRead.get / 1024}%8d KiB")
      tally.reset()
    }
    spark.stop()
  }
}
