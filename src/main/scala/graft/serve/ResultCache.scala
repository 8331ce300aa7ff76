package graft.serve

import graft.serve.ResponseEncoders.Format
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

import java.io.{ByteArrayOutputStream, OutputStream}
import java.util.concurrent.atomic.LongAdder
import scala.util.control.NonFatal

/** Server-wide cache of session-query responses: repeated SQL over the
  * same files is answered with the bytes its first answer sent, in the
  * same format, with no Spark job. Only `POST /session/{id}/query`
  * reads it; `Verify`, `Bench` and the engine calls below the HTTP
  * layer never do.
  *
  * Key: the optimized plan's canonical form (its hash buckets, plan
  * equality confirms — `semanticHash` / `sameSemantics`), the
  * session's SQL conf, (path, length, mtime) of every file the plan
  * reads, the output schema and the response format. Two sessions that
  * registered the same files with the same conf share an entry; a
  * rewritten file, a re-registered location or a changed conf misses.
  * Canonical plans drop output names, but the encoded bytes carry them
  * (JSON keys, the CSV header, Arrow field names), so the schema is in
  * the key too. Entries hold the encoded response (never Spark's
  * CacheManager or RDD blocks), within a total byte cap, least
  * recently used evicted first.
  */
final class ResultCache {
  import ResultCache._

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Array[Byte]](16, 0.75f, true)
  private var used = 0L // guarded by entries

  val hits = new LongAdder
  val misses = new LongAdder
  val bypasses = new LongAdder
  val evictions = new LongAdder

  /** Bytes charged by the live entries. */
  def bytes: Long = entries.synchronized(used)

  def size: Int = entries.synchronized(entries.size)

  /** Encode `df`'s result as `fmt` to `out` through the cache. A hit
    * writes the stored bytes; a miss encodes as with no cache, copying
    * what it writes up to the entry cap, and admits the copy once the
    * encoder returns; an ineligible result only encodes. Throws, and
    * admits nothing, if the encoder could not write it all.
    */
  def serve(df: DataFrame, fmt: Format, out: OutputStream): Unit = keyOf(df, fmt) match {
    case None =>
      bypasses.increment()
      ResponseEncoders.encode(df, fmt, out)
    case Some(key) =>
      entries.synchronized(Option(entries.get(key))) match {
        case Some(body) =>
          hits.increment()
          out.write(body)
        case None =>
          misses.increment()
          val tee = new Tee(out)
          ResponseEncoders.encode(df, fmt, tee)
          tee.copy.foreach(admit(key, _))
      }
  }

  private def admit(key: Key, body: Array[Byte]): Unit = entries.synchronized {
    // a concurrent identical miss may have won the race: keep its entry
    if (!entries.containsKey(key)) {
      entries.put(key, body)
      used += charge(body)
      val it = entries.values().iterator()
      while (used > MaxBytes && it.hasNext) {
        used -= charge(it.next())
        it.remove()
        evictions.increment()
      }
    }
  }

  def clear(): Unit = entries.synchronized { entries.clear(); used = 0L }

  /** The cache key of `df`'s result, or None when it must not be
    * cached: some leaf of the optimized plan (subqueries included) is
    * not a file relation or a local relation, no leaf reads a file (a
    * command's reply or a constant), the analyzed plan is
    * nondeterministic or reads the clock or the caller's identity, or
    * an input file cannot be stat'ed.
    */
  private def keyOf(df: DataFrame, fmt: Format): Option[Key] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    val plan = qe.optimizedPlan
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    val files = leaves.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) => fs }
    val eligible = files.nonEmpty && leaves.forall {
      case LogicalRelation(_: HadoopFsRelation, _, _, false, _) | _: LocalRelation => true
      case _ => false
    } && !volatile(qe.analyzed)
    if (!eligible) None
    else stat(files.flatMap(_.location.inputFiles).distinct.sorted, df).map(
      Key(detach(plan.canonicalized), df.sparkSession.conf.getAll, _, df.schema, fmt))
  }
}

object ResultCache {

  /** Total bytes the entries may charge. */
  val MaxBytes: Long = 16L << 20

  /** A response above this many bytes streams but is not kept. */
  val MaxEntryBytes: Long = 1L << 20

  /** Fixed charge per entry for the plan and file list its key keeps,
    * so the entry count is bounded too (at most 1024).
    */
  val EntryOverheadBytes: Long = 16L << 10

  /** Canonical optimized plan, session SQL conf, (path, length, mtime)
    * of every input file, output schema, response format. Equality on
    * the canonical plan is `sameSemantics`; its hash is `semanticHash`.
    */
  private final case class Key(plan: LogicalPlan, conf: Map[String, String],
      files: Seq[(String, Long, Long)], schema: StructType, format: Format)

  /** A file relation in a key: the fields HadoopFsRelation equality
    * compares (its file index compares root paths), without the
    * session and the file listing the relation holds, so an entry
    * keeps neither alive after the session that made it is gone.
    */
  private final case class FileScan(output: Seq[Attribute], roots: Set[org.apache.hadoop.fs.Path],
      dataSchema: StructType, partitionSchema: StructType, format: Class[_],
      options: Map[String, String], bucketSpec: Option[BucketSpec]) extends LeafNode

  private def detach(plan: LogicalPlan): LogicalPlan = plan.transformWithSubqueries {
    case l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      FileScan(l.output, fs.location.rootPaths.toSet, fs.dataSchema, fs.partitionSchema,
        fs.fileFormat.getClass, fs.options, fs.bucketSpec)
  }

  private def charge(body: Array[Byte]): Long = body.length + EntryOverheadBytes

  /** Passes every write through to `out` and copies it aside until
    * the copy would outgrow the entry cap.
    */
  private final class Tee(out: OutputStream) extends OutputStream {
    private var kept = new ByteArrayOutputStream()

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      if (kept != null) {
        if (kept.size + len > MaxEntryBytes) kept = null
        else kept.write(b, off, len)
      }
    }

    override def flush(): Unit = out.flush()

    /** The bytes written, unless they outgrew the entry cap. */
    def copy: Option[Array[Byte]] = Option(kept).map(_.toByteArray)
  }

  /** The analyzed plan draws randomness or reads the clock, the user,
    * or the current catalog/database: its answer is not a function of
    * its input files.
    */
  private def volatile(plan: LogicalPlan): Boolean =
    plan.collectFirstWithSubqueries {
      case p if p.expressions.exists(e => !e.deterministic || e.exists {
        case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime | _: CurrentTimeZone |
            _: CurrentUser | _: CurrentDatabase | _: CurrentCatalog => true
        case _ => false
      }) => p
    }.nonEmpty

  /** (path, length, mtime) of each file, or None if any stat fails. */
  private def stat(files: Seq[String], df: DataFrame): Option[Seq[(String, Long, Long)]] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    try Some(files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }) catch { case NonFatal(_) => None }
  }
}
