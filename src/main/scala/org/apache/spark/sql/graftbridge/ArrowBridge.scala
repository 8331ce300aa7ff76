package org.apache.spark.sql.graftbridge

import java.io.OutputStream

import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.util.ArrowUtils

/** Access point into Spark's `private[sql]` Arrow machinery — lives
  * under `org.apache.spark.sql` so `ArrowWriter` / `ArrowUtils` are
  * visible. This is the Spark analogue of the reference's Arrow IPC
  * response encoder (`lib/src/response/format/arrow_stream.rs:7-19`):
  * identical wire format (Arrow IPC stream: schema message + batch
  * messages), produced by Spark's own row→vector writers rather than
  * a hand-rolled converter.
  */
object ArrowBridge {

  /** Write `df`'s result as an Arrow IPC stream. Incremental: pulls
    * the plan's InternalRow iterator batch-at-a-time (the
    * `execute_stream` analogue, `session_manager.rs:717-726`), so
    * memory is bounded by `batchRows`, not the result size.
    *
    * Returns the row count.
    */
  def writeIpcStream(df: DataFrame, out: OutputStream, batchRows: Int = 1024): Long = {
    var writer: ArrowStreamWriter = null
    val n = foreachArrowBatch(df, batchRows) { root =>
      writer = new ArrowStreamWriter(root, null, out)
      writer.start()
    } { () => writer.writeBatch() }
    writer.end()
    n
  }

  /** Pull `df`'s result into a VectorSchemaRoot batch-at-a-time:
    * `onStart` receives the root once (before any rows), `onBatch`
    * fires after each filled batch (at least once, so schema-only
    * consumers see an empty batch). The generic consumer under
    * [[writeIpcStream]] and the Flight server's `do_get` stream
    * (ServerStreamListener start/putNext map 1:1). Returns rows.
    */
  def foreachArrowBatch(df: DataFrame, batchRows: Int = 1024)
      (onStart: VectorSchemaRoot => Unit)(onBatch: () => Unit): Long = {
    val allocator = ArrowUtils.rootAllocator
      .newChildAllocator(s"graft-ipc-${System.nanoTime()}", 0, Long.MaxValue)
    val root = VectorSchemaRoot.create(toArrowSchema(df), allocator)
    var n = 0L
    try {
      val arrowWriter = ArrowWriter.create(root)
      onStart(root)
      var inBatch = 0
      rowIterator(df).foreach { r =>
        arrowWriter.write(r)
        inBatch += 1
        n += 1
        if (inBatch >= batchRows) {
          arrowWriter.finish()
          onBatch()
          arrowWriter.reset()
          inBatch = 0
        }
      }
      if (inBatch > 0 || n == 0) { // always emit ≥1 batch (schema-only ok)
        arrowWriter.finish()
        onBatch()
        arrowWriter.reset()
      }
      n
    } finally {
      root.close()
      allocator.close()
    }
  }

  /** `df`'s result rows, pulled from the executed plan a partition at a
    * time (driver-incremental).
    */
  private def rowIterator(df: DataFrame): Iterator[InternalRow] =
    df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.executeToIterator()

  /** The frame's schema as an Arrow schema (plan-only — nothing is
    * executed). `ArrowUtils` is private[sql], hence bridged here.
    */
  def toArrowSchema(df: DataFrame): Schema = {
    val ds = df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
    ArrowUtils.toArrowSchema(ds.schema,
      ds.sparkSession.sessionState.conf.sessionLocalTimeZone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
  }

  /** Read an Arrow IPC stream into a DataFrame — the ingest direction
    * of [[writeIpcStream]] (reference `DataSourceFormat::Arrow`,
    * `request/body.rs:98-99`, and the Flight do_put payload,
    * `server/flight.rs:264-310`). Two passes over the bytes: the
    * stream header for the schema (Arrow Java reader), then Spark's
    * own batch-message splitter + columnar→row decoder, so the frame
    * is distributed with the same InternalRow layout Spark's Arrow
    * sources produce.
    */
  def readIpcBytes(spark: org.apache.spark.sql.SparkSession,
      bytes0: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.execution.arrow.ArrowConverters
    // IPC FILE format (random-access, magic "ARROW1") → transcode to
    // the stream framing first; the batch bytes are identical
    val bytes = if (isIpcFile(bytes0)) fileToStreamBytes(bytes0) else bytes0
    val allocator = ArrowUtils.rootAllocator
      .newChildAllocator(s"graft-ipc-read-${System.nanoTime()}", 0, Long.MaxValue)
    val sparkSchema =
      try {
        val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
          new java.io.ByteArrayInputStream(bytes), allocator)
        try ArrowUtils.fromArrowSchema(reader.getVectorSchemaRoot.getSchema)
        finally reader.close()
      } finally allocator.close()
    val batches = ArrowConverters.getBatchesFromStream(
      java.nio.channels.Channels.newChannel(new java.io.ByteArrayInputStream(bytes)))
    ArrowConverters.toDataFrame(batches, sparkSchema.json,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  private def isIpcFile(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && bytes.startsWith("ARROW1".getBytes("US-ASCII"))

  private def fileToStreamBytes(bytes: Array[Byte]): Array[Byte] = {
    val allocator = ArrowUtils.rootAllocator
      .newChildAllocator(s"graft-ipc-transcode-${System.nanoTime()}", 0, Long.MaxValue)
    try {
      val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
        new org.apache.arrow.vector.ipc.SeekableReadChannel(
          new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes)),
        allocator)
      try {
        val root = reader.getVectorSchemaRoot
        val out = new java.io.ByteArrayOutputStream()
        // the reader IS the dictionary provider: dictionary-encoded
        // (categorical) columns need their dictionaries re-emitted in
        // the stream framing
        val writer = new ArrowStreamWriter(root, reader, out)
        writer.start()
        while (reader.loadNextBatch()) writer.writeBatch()
        writer.end()
        out.toByteArray
      } finally reader.close()
    } finally allocator.close()
  }
}

/** Column ⇄ Expression bridge (`ExpressionUtils` is private[sql]). */
object ExprBridge {
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
