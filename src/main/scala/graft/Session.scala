package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on (`Bench`, `Verify` and the
  * `tools`): `local[cpus]` with as many shuffle partitions, UTC, no UI.
  */
object Session {
  def local(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    // batch ANN serving holds one bounded heap per query per task;
    // without this, ObjectHashAggregate falls back to sort-based
    // aggregation past 128 distinct query ids and re-buys the sort
    // the heap top-k exists to remove
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
