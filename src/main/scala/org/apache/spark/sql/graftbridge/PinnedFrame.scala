package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.storage.StorageLevel

/** A frame over rows its caller OWNS: `df`'s result rows persisted in
  * an RDD of their own, exposed as a DataFrame that scans that RDD.
  *
  * Unlike `Dataset.cache()`, nothing goes through the shared
  * CacheManager: the entry is not keyed by plan, so two frames with
  * equal plans never share (or unpersist) each other's blocks,
  * `catalog.clearCache()` leaves it alone, and no other query's plan
  * is silently rewritten to read it. The owner materializes it with
  * its first action and releases it with `rows.unpersist()` — the
  * lifetime is the owner's, start to end.
  *
  * Lives in the `org.apache.spark.sql` namespace for
  * `internalCreateDataFrame` (private[sql]), like [[CacheScope]].
  */
object PinnedFrame {

  /** (frame, rows): `frame` reads the persisted `rows`. */
  def apply(df: DataFrame, name: String): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    // execution reuses row buffers: copy before the rows are stored
    val rows = ds.queryExecution.toRdd.map(_.copy())
      .setName(name).persist(StorageLevel.MEMORY_AND_DISK)
    (ds.sparkSession.internalCreateDataFrame(rows, ds.schema), rows)
  }
}
