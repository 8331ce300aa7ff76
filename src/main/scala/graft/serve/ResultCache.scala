package graft.serve

import graft.serve.ResponseEncoders.RowSource
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.ArrowBridge
import org.apache.spark.sql.types.StructType

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Server-wide cache of session-query results: repeated SQL over the
  * same files is answered from stored rows, encoded to the requested
  * format, with no Spark job. Only `POST /session/{id}/query` reads it;
  * `Verify`, `Bench` and the engine calls below the HTTP layer never do.
  *
  * Key: the optimized plan's canonical form (its hash buckets, plan
  * equality confirms — `semanticHash` / `sameSemantics`), the
  * session's SQL conf, and (path, length, mtime) of every file the
  * plan reads. Two sessions that registered the same files with the
  * same conf share an entry; a rewritten file, a re-registered
  * location or a changed conf misses. Entries hold rows as copied
  * UnsafeRows (never Spark's CacheManager or RDD blocks), within a
  * total byte cap, least recently used evicted first.
  */
final class ResultCache {
  import ResultCache._

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var used = 0L // guarded by entries

  val hits = new LongAdder
  val misses = new LongAdder
  val bypasses = new LongAdder
  val evictions = new LongAdder

  /** Bytes charged by the live entries. */
  def bytes: Long = entries.synchronized(used)

  def size: Int = entries.synchronized(entries.size)

  /** Encode `df`'s result through the cache. `write` encodes a row
    * source to the response and throws if it could not write it all.
    * A hit writes the stored rows; a miss streams the plan and copies
    * its rows aside, admitted once `write` returns if they fit the
    * entry cap; an ineligible result only streams.
    */
  def serve(df: DataFrame)(write: RowSource => Unit): Unit = keyOf(df) match {
    case None =>
      bypasses.increment()
      write(RowSource(df))
    case Some(key) =>
      entries.synchronized(Option(entries.get(key))) match {
        case Some(e) =>
          hits.increment()
          write(e.source(df))
        case None =>
          misses.increment()
          val copy = new Copy(df.schema)
          write(copy.tee(RowSource(df)))
          copy.entry.foreach(admit(key, _))
      }
  }

  private def admit(key: Key, e: Entry): Unit = entries.synchronized {
    // a concurrent identical miss may have won the race: keep its entry
    if (!entries.containsKey(key)) {
      entries.put(key, e)
      used += e.bytes
      val it = entries.values().iterator()
      while (used > MaxBytes && it.hasNext) {
        used -= it.next().bytes
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
  private def keyOf(df: DataFrame): Option[Key] = {
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
      Key(detach(plan.canonicalized), df.sparkSession.conf.getAll, _))
  }

  /** Copies a miss's rows as they stream, until they outgrow the entry cap. */
  private final class Copy(schema: StructType) {
    private val kept = ArrayBuffer.empty[InternalRow]
    private var rowBytes = 0L
    private var over = false
    private lazy val toInternal = ExpressionEncoder(schema).createSerializer()

    private def add(r: InternalRow): Unit = if (!over) r match {
      case u: UnsafeRow if rowBytes + u.getSizeInBytes <= MaxEntryBytes =>
        kept += u.copy()
        rowBytes += u.getSizeInBytes
      case _ =>
        over = true
        kept.clear()
    }

    def tee(src: RowSource): RowSource = new RowSource {
      def schema: StructType = src.schema
      def arrowSchema: Schema = src.arrowSchema
      def rows: Iterator[Row] = src.rows.map { r => if (!over) add(toInternal(r)); r }
      def internalRows: Iterator[InternalRow] = src.internalRows.map { r => add(r); r }
    }

    def entry: Option[Entry] =
      if (over) None else Some(new Entry(schema, kept.toVector, rowBytes + EntryOverheadBytes))
  }
}

object ResultCache {

  /** Total bytes the entries may charge. */
  val MaxBytes: Long = 16L << 20

  /** Rows of one result above this many bytes stream but are not kept. */
  val MaxEntryBytes: Long = 1L << 20

  /** Fixed charge per entry for the plan and file list its key keeps,
    * so the entry count is bounded too (at most 1024).
    */
  val EntryOverheadBytes: Long = 16L << 10

  /** Canonical optimized plan, session SQL conf, (path, length, mtime)
    * of every input file. Equality on the canonical plan is
    * `sameSemantics`; its hash is `semanticHash`.
    */
  private[serve] final case class Key(plan: LogicalPlan, conf: Map[String, String],
      files: Seq[(String, Long, Long)])

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

  /** A stored result: the rows as UnsafeRows, the schema they were
    * written with, and the bytes it charges.
    */
  private[serve] final class Entry(schema: StructType, val rows: Vector[InternalRow], val bytes: Long) {
    private lazy val encoder = ExpressionEncoder(schema).resolveAndBind()

    /** The stored rows as the row source of `df`, the request that hit.
      * Canonical plans drop aliases and attribute names, so queries
      * that differ only in their output names share an entry: the
      * names come from `df`; positions and types are the entry's.
      */
    def source(df: DataFrame): RowSource = new RowSource {
      def schema: StructType = df.schema
      def arrowSchema: Schema = ArrowBridge.toArrowSchema(df)
      def rows: Iterator[Row] = {
        val toRow = encoder.createDeserializer()
        Entry.this.rows.iterator.map(toRow(_))
      }
      def internalRows: Iterator[InternalRow] = Entry.this.rows.iterator
    }
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
