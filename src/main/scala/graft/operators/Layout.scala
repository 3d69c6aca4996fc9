package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * min/max file skipping.
  *
  * Sorting a table by ONE column gives parquet row-group stats that
  * prune scans on that column only — a predicate on any other column
  * touches every file, because its values spread over the whole range
  * everywhere. Interleaving the bits of SEVERAL columns' normalized
  * ranks into one sort key (the Z-value) makes each contiguous key
  * range cover a bounded BOX in dimension space, so every written
  * file carries tight min/max footer stats on ALL interleaved
  * columns at once, and a box predicate on any subset of them skips
  * the non-intersecting files — the standard lakehouse layout
  * optimization for multi-dimensional workloads.
  *
  * At 100 TB this is a periodic layout-compaction job (one range
  * shuffle of the table, the same cost as any global sort) that every
  * subsequent scan amortizes: Spark's parquet reader prunes row
  * groups by footer stats for pushed predicates with no further help,
  * so the benefit needs no reader-side code at all. The Z-value is
  * internal to the layout — it is dropped before writing, never
  * served, and never part of query semantics (results are
  * layout-independent; the oracle runs the same filter on the
  * unclustered table).
  */
object Layout {

  /** Bit-interleaved Z-value over `dims` as a single codegen-friendly
    * column: each dimension is normalized to a `bits`-bit integer rank
    * (values outside [lo, hi] clamp — a layout approximation, never a
    * correctness issue), and output bit `i·n + j` takes bit `i` of
    * dimension `j`'s rank. The terms occupy disjoint bit positions, so
    * integer addition assembles the interleave without any UDF —
    * `n · bits` shift/mask/add expressions, all inside whole-stage
    * codegen. Requires `n · bits ≤ 62` (the key fits a non-negative
    * long).
    */
  def zValue(dims: Seq[(Column, Double, Double)], bits: Int): Column = {
    val n = dims.size
    require(n >= 1, "zValue needs at least one dimension")
    require(bits >= 1 && n * bits <= 62,
      s"interleaved key must fit a long: n=$n * bits=$bits > 62")
    val top = (1L << bits) - 1
    val ranks = dims.map { case (c, lo, hi) =>
      require(hi > lo, s"zValue dimension bounds must satisfy hi > lo (got [$lo, $hi])")
      least(
        greatest(
          floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(top.toDouble)),
          lit(0.0)),
        lit(top.toDouble)).cast("long")
    }
    val terms = for {
      i <- 0 until bits
      (r, j) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ + _)
  }

  /** Write `df` Z-order-clustered on `dims` into `numFiles` files at
    * `dir`: ONE range shuffle on the interleaved key (the boundaries
    * come from Spark's range-partition sampling), an in-partition sort
    * so row groups inside each file stay tight too, then the key is
    * dropped — the written schema is exactly `df`'s. Bounds for the
    * rank normalization are computed in the same pass as a single
    * min/max aggregate.
    */
  def zorderWrite(df: DataFrame, dims: Seq[String], bits: Int, numFiles: Int,
                  dir: String): Unit = {
    val exprs = dims.flatMap(d =>
      Seq(min(col(d).cast("double")), max(col(d).cast("double"))))
    val bounds = df.agg(exprs.head, exprs.tail: _*).head()
    val dimBounds = dims.zipWithIndex.map { case (d, i) =>
      val lo = bounds.getDouble(2 * i)
      val hi = bounds.getDouble(2 * i + 1)
      // degenerate (constant) dimension: widen so normalization is defined
      (col(d), lo, if (hi > lo) hi else lo + 1.0)
    }
    df.withColumn("_graft_z", zValue(dimBounds, bits))
      .repartitionByRange(numFiles, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z")
      .write.mode("overwrite").parquet(dir)
  }

  /** [[zorderWrite]] once per content of `df` ([[IndexMeta.ensure]]):
    * repeat executions against unchanged data serve the existing
    * layout.
    */
  def ensureZordered(df: DataFrame, dims: Seq[String], bits: Int, numFiles: Int,
                     dir: String): Unit =
    IndexMeta.ensure(dir, s"zorder_b=$bits,f=$numFiles,${dims.mkString(",")}", df)(
      zorderWrite(df, dims, bits, numFiles, dir))

  /** Per-row-group `[min, max]` footer statistics for the given numeric
    * columns of every parquet file under `dir` — the exact information
    * a stats-pruning reader consults. Used by the layout specs and the
    * scale smoke to MEASURE skipping (eligible row groups for a box
    * predicate) instead of asserting it; driver-side footer reads only
    * (no data pages touched).
    */
  def rowGroupStats(spark: SparkSession, dir: String,
                    cols: Seq[String]): Seq[Map[String, (Double, Double)]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          reader.getFooter.getBlocks.asScala.toSeq.map { block =>
            block.getColumns.asScala
              .filter(cc => cols.contains(cc.getPath.toDotString))
              .flatMap { cc =>
                val st = cc.getStatistics
                if (st == null || !st.hasNonNullValue) None
                else Some(cc.getPath.toDotString -> (
                  st.genericGetMin.asInstanceOf[Number].doubleValue(),
                  st.genericGetMax.asInstanceOf[Number].doubleValue()))
              }.toMap
          }
        } finally reader.close()
      }
  }

  /** How many of `stats`' row groups a box predicate must touch: a
    * group is eligible when every constrained column's `[min, max]`
    * intersects its `[lo, hi]` — the same test a min/max-pruning
    * reader applies.
    */
  def eligibleRowGroups(stats: Seq[Map[String, (Double, Double)]],
                        box: Map[String, (Double, Double)]): Int =
    stats.count { g =>
      box.forall { case (c, (lo, hi)) =>
        g.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }
}
