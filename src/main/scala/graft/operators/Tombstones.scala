package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `_deletes` tombstone sidecar shared by every persisted index
  * layout ([[Hnsw]] generations, [[Ivf]] cell partitions). A takedown
  * appends its ids here — O(batch) I/O, no index rewrite — and every
  * deletes-aware serving path excludes the recorded ids immediately;
  * compaction folds them into the data files and clears the sidecar.
  * The reference has no deletion at all (hnsw.cc:147-215 is
  * insert-only); this is the piece a production store cannot live
  * without — dataset takedowns must take effect at serve time, not at
  * the next full rebuild.
  *
  * The underscore prefix keeps the sidecar invisible to
  * `spark.read.parquet(dir)` (same convention as the `_centroids`
  * sidecar), so layouts with and without tombstones read identically.
  *
  * Scale contract: the tombstone set is always small relative to the
  * corpus — it is bounded by the takedown rate times the compaction
  * cadence, never by data size — so serving paths broadcast it.
  */
private[graft] object Tombstones {

  private def path(dir: String) = s"$dir/_deletes"

  /** Append `ids(vec_id)` to the sidecar. Repeatable: batches
    * accumulate; readers dedupe.
    */
  def record(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).write.mode("append").parquet(path(dir))

  /** [[record]] only when NO sidecar exists yet — the idempotent form
    * for DECLARED queries that re-run against a memoized layout (bench
    * and verify iterate them): repeated executions must not grow the
    * sidecar linearly with run count (results were always correct —
    * [[ids]] dedupes — but the sidecar read/broadcast shouldn't pay
    * for accumulated identical batches).
    */
  def recordOnce(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) record(spark, dir, ids)
  }

  /** Current tombstones (distinct `vec_id` longs), or None if none
    * recorded. The ids are read when this is called and come back as a
    * local relation: a frame planned on them still runs after a
    * compaction [[clear]]s the sidecar, and serves the set it was
    * planned with. The sidecar is read and collected once per file set
    * ([[CellSnapshot.collected]]); a [[record]] adds files, so the next
    * call reads it again.
    */
  def ids(spark: SparkSession, dir: String): Option[DataFrame] = {
    import spark.implicits._
    CellSnapshot.collected(spark, dir, "_deletes").map { c =>
      val i = c.schema.fieldIndex("vec_id")
      c.rows.iterator.filterNot(_.isNullAt(i)).map(_.getAs[Number](i).longValue)
        .toSeq.distinct.toDF("vec_id")
    }
  }

  /** Drop the sidecar — the last step of a compaction. */
  def clear(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
