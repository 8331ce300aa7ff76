package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Round-8 advisory regressions: index-dir deletion must not race
  * in-flight readers (searches/appends holding a dropped handle), and
  * the per-session index cap must be exact under concurrency.
  *
  * Contract pinned here:
  *  - a DROP while a reader is inside [[graft.pipeline.AnnIndex.withReader]]
  *    DEFERS file deletion until that reader releases — the reader
  *    completes against intact files;
  *  - a reader arriving AFTER the drop gets a clean
  *    [[graft.pipeline.AnnIndex.IndexDroppedException]], never parquet
  *    IO failures from a half-deleted directory;
  *  - a rebuild targeting a dir whose deferred delete is still pending
  *    waits for the delete instead of interleaving writes with it;
  *  - N concurrent first-builds of distinct new names admit exactly
  *    `cap` of them (reservation-set enforcement, no check-then-act).
  */
class IndexDropRaceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private lazy val emb =
    spark.read.parquet(s"${SparkFixture.sfDir}/embeddings.parquet")

  private def withTmp(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_droprace").toString
    try f(dir)
    finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  private def exists(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir))

  test("DROP while a reader holds the handle defers deletion to release") {
    withTmp { root =>
      val dir = s"$root/idx"
      val h = graft.pipeline.AnnIndex.buildSeeded(emb, "embedding", "vec_id",
        dir, numCells = 4, m = 4, ksub = 4)
      graft.pipeline.AnnIndex.register("race/a", h)
      val inside = new CountDownLatch(1)
      val proceed = new CountDownLatch(1)
      val readerDone = new CountDownLatch(1)
      val readerFailed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try graft.pipeline.AnnIndex.withReader(h) {
          inside.countDown()
          proceed.await(10, TimeUnit.SECONDS)
          // the read happens AFTER the drop below: files must still be
          // there because this reader entered before the condemn
          val q = Array.fill(h.dim)(0.1)
          graft.pipeline.AnnIndex
            .searchTopKVec(spark, h, q, k = 5, nprobe = 4).collect(): Unit
        } catch { case e: Throwable => readerFailed.set(e) }
        finally readerDone.countDown())
      t.start()
      assert(inside.await(10, TimeUnit.SECONDS))
      assert(graft.pipeline.AnnIndex.dropAndDelete("race/a"))
      assert(graft.pipeline.AnnIndex.get("race/a").isEmpty)
      // deletion deferred: the reader still holds the dir
      assert(exists(dir), "files must survive until the reader releases")
      proceed.countDown()
      assert(readerDone.await(30, TimeUnit.SECONDS))
      assert(readerFailed.get() == null,
        s"reader must complete against intact files: ${readerFailed.get()}")
      // the last release reclaims the files
      val deadline = System.currentTimeMillis() + 10000
      while (exists(dir) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(!exists(dir), "release of the last reader must delete the dir")
    }
  }

  test("a reader arriving after DROP is refused cleanly") {
    withTmp { root =>
      val dir = s"$root/idx"
      val h = graft.pipeline.AnnIndex.buildSeeded(emb, "embedding", "vec_id",
        dir, numCells = 4, m = 4, ksub = 4)
      graft.pipeline.AnnIndex.register("race/b", h)
      assert(graft.pipeline.AnnIndex.dropAndDelete("race/b"))
      // no readers were active → files already gone; a stale handle's
      // late read is a typed refusal, not a parquet FileNotFound storm
      intercept[graft.pipeline.AnnIndex.IndexDroppedException] {
        graft.pipeline.AnnIndex.withReader(h)(fail("body must not run"))
      }
    }
  }

  test("concurrent searches during DROP never see a half-deleted dir") {
    withTmp { root =>
      val dir = s"$root/idx"
      val h = graft.pipeline.AnnIndex.buildSeeded(emb, "embedding", "vec_id",
        dir, numCells = 4, m = 4, ksub = 4)
      graft.pipeline.AnnIndex.register("race/c", h)
      val pool = Executors.newFixedThreadPool(8)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val hardFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val refused = new AtomicInteger
      val completed = new AtomicInteger
      val q = Array.fill(h.dim)(0.1)
      (1 to 8).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = while (!stop.get()) {
            try {
              graft.pipeline.AnnIndex.withReader(h) {
                graft.pipeline.AnnIndex
                  .searchTopKVec(spark, h, q, k = 5, nprobe = 4)
                  .collect(): Unit
              }
              completed.incrementAndGet(): Unit
            } catch {
              case _: graft.pipeline.AnnIndex.IndexDroppedException =>
                refused.incrementAndGet(); stop.set(true)
              case e: Throwable => hardFailure.set(e); stop.set(true)
            }
          }
        }): Unit
      }
      // let the searchers get going, then pull the rug
      Thread.sleep(300)
      assert(graft.pipeline.AnnIndex.dropAndDelete("race/c"))
      stop.set(true)
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      assert(hardFailure.get() == null,
        s"a drop must never surface as an IO failure in a reader: ${hardFailure.get()}")
      assert(completed.get() > 0, "searchers must have completed work")
      val deadline = System.currentTimeMillis() + 10000
      while (exists(dir) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(!exists(dir))
    }
  }

  test("rebuild into a dir with a pending deferred delete waits it out") {
    withTmp { root =>
      val dir = s"$root/idx"
      val h = graft.pipeline.AnnIndex.buildSeeded(emb, "embedding", "vec_id",
        dir, numCells = 4, m = 4, ksub = 4)
      graft.pipeline.AnnIndex.register("race/d", h)
      val inside = new CountDownLatch(1)
      val proceed = new CountDownLatch(1)
      val t = new Thread(() =>
        graft.pipeline.AnnIndex.withReader(h) {
          inside.countDown()
          proceed.await(10, TimeUnit.SECONDS): Unit
        })
      t.start()
      assert(inside.await(10, TimeUnit.SECONDS))
      assert(graft.pipeline.AnnIndex.dropAndDelete("race/d"))
      assert(exists(dir), "delete deferred while the reader holds the dir")
      // identical re-POST shape: rebuild resolves to the SAME dir; the
      // build must block until the deferred delete completes, then
      // produce a fully usable index (never interleave with the delete)
      val rebuilt = new java.util.concurrent.atomic.AtomicReference[
        graft.pipeline.AnnIndex.Handle]()
      val builder = new Thread(() => rebuilt.set(
        graft.pipeline.AnnIndex.openOrRebuildCached("race/d", dir) {
          graft.pipeline.AnnIndex.buildSeeded(emb, "embedding", "vec_id",
            dir, numCells = 4, m = 4, ksub = 4)
        }))
      builder.start()
      Thread.sleep(200)
      proceed.countDown() // reader releases → delete runs → build proceeds
      builder.join(60000)
      assert(!builder.isAlive, "rebuild must not deadlock on the deferred delete")
      val h2 = rebuilt.get()
      assert(h2 != null && h2.dir == dir)
      val out = graft.pipeline.AnnIndex.withReader(h2) {
        graft.pipeline.AnnIndex
          .searchTopKVec(spark, h2, Array.fill(h2.dim)(0.1), k = 5, nprobe = 4)
          .collect()
      }
      assert(out.nonEmpty, "the rebuilt index must serve searches")
      assert(graft.pipeline.AnnIndex.dropAndDelete("race/d"))
    }
  }

  test("per-prefix index cap is exact under concurrent new names") {
    val cap = 4
    val prefix = "capsess/"
    val stub = graft.pipeline.AnnIndex.Handle(
      dir = "unused", m = 1, ksub = 1, dim = 1, numCells = 1,
      cellsRequested = 1, idCol = "id", vecCol = "v",
      codebooks = Array.empty, centroids = Seq.empty,
      codesSchema = new org.apache.spark.sql.types.StructType())
    val pool = Executors.newFixedThreadPool(16)
    val admitted = new AtomicInteger
    val refused = new AtomicInteger
    val start = new CountDownLatch(1)
    val names = (1 to 16).map(i => s"${prefix}n$i")
    try {
      names.foreach { nm =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await(10, TimeUnit.SECONDS)
            try {
              graft.pipeline.AnnIndex.openOrRebuildCachedBounded(
                nm, s"unused-dir-$nm", prefix, cap) {
                Thread.sleep(50) // widen the build window the old
                stub              // check-then-act raced through
              }
              admitted.incrementAndGet(): Unit
            } catch {
              case _: graft.pipeline.AnnIndex.IndexCapExceededException =>
                refused.incrementAndGet(): Unit
            }
          }
        }): Unit
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      assert(admitted.get() == cap,
        s"exactly $cap of 16 concurrent new names must be admitted, " +
          s"got ${admitted.get()} (refused ${refused.get()})")
      assert(refused.get() == 16 - cap)
    } finally names.foreach(graft.pipeline.AnnIndex.drop(_): Unit)
  }

  test("corpusFingerprint stats through the Hadoop filesystem (mtime-sensitive)") {
    withTmp { root =>
      val p = s"$root/corp.parquet"
      emb.limit(10).write.parquet(p)
      val df1 = spark.read.parquet(p)
      val fp1 = graft.pipeline.AnnIndex.corpusFingerprint(df1)
      // same files, same stats → stable
      assert(graft.pipeline.AnnIndex.corpusFingerprint(spark.read.parquet(p)) == fp1)
      // an in-place touch (mtime bump, same paths) MUST change the
      // fingerprint — that is the staleness protection the dir key
      // exists for
      val dirPath = java.nio.file.Paths.get(p)
      val newTime = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 120000)
      java.nio.file.Files.list(dirPath).forEach { f =>
        if (f.toString.endsWith(".parquet"))
          java.nio.file.Files.setLastModifiedTime(f, newTime): Unit
      }
      val fp2 = graft.pipeline.AnnIndex.corpusFingerprint(spark.read.parquet(p))
      assert(fp2 != fp1,
        "re-ingested-in-place corpus (same paths, new mtime) must re-key the index")
    }
  }
}
