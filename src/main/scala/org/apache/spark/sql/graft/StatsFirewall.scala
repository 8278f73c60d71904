package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Explicit statistics for the `LogicalRDD`s the engine builds itself.
  * Two uses: the firewall for checkpointed loop frames ([[rebound]]), and
  * the scan of rows a source decoded driver-side ([[scan]], the SQLite
  * reader's tables).
  *
  * Statistics firewall for checkpointed loop frames.
  *
  * `Dataset.localCheckpoint`/`checkpoint` preserve the ORIGIN plan's
  * statistics into the resulting `LogicalRDD` (`originStats`) — the right
  * default for a user checkpointing mid-pipeline, but poison inside an
  * iterative loop: round k+1's join estimates MULTIPLY round k's
  * preserved `sizeInBytes`, so the BigInt's digit count grows
  * geometrically with the round number even though every round's plan is
  * shallow. Measured on the sf100 q33 contraction profile: levels 1-4 ran
  * in 4-14 s, level 5 took 69 s, and level 6+ pinned the driver
  * single-threaded inside `BigInteger.multiplyToomCook3` — the optimizer
  * doing thousand-digit arithmetic on meaningless size estimates. The
  * propagation loops pay the same tax at a slower exponent (their stats
  * digits grow linearly with round count), which contributed to the
  * measured 45 → 705 s per-round drift in the pointer-jump profile.
  *
  * The firewall rebuilds the checkpoint's `LogicalRDD` with explicit
  * statistics — the caller's (row count × row width) when known, else the
  * session's `defaultSizeInBytes` (what a stats-less leaf would report) —
  * so loop-frame estimates stay O(1) digits no matter how many rounds
  * compound them. Planner behavior is otherwise unchanged: the inherited
  * estimates after a few rounds were astronomically large, so both before
  * and after the firewall a loop frame never looks broadcastable unless
  * the caller supplies real row counts.
  *
  * The source scan ([[scan]]) is the opposite case: a `LogicalRDD` made
  * from an RDD of rows has no origin plan, so it reports
  * `defaultSizeInBytes` (never broadcastable) and unknown partitioning
  * (every aggregate and join shuffles), though the source counted every
  * row and byte while decoding them. Declaring those counts, and
  * `SinglePartition` for a one-slice RDD, lets Catalyst broadcast the
  * table and aggregate it without an exchange.
  *
  * This file lives under `org.apache.spark.sql` for `private[sql]` access
  * to `Dataset.ofRows` and the `LogicalRDD` constructor — the same bridge
  * pattern Delta Lake and other Spark libraries use for gaps the public
  * API does not cover. Pinned to the Spark 4.1 `LogicalRDD` shape
  * (curried constructor with `originStats`/`originConstraints`); a Spark
  * upgrade that changes it fails loudly at compile time, not silently.
  */
object StatsFirewall {

  /** Rebuild a just-checkpointed frame's `LogicalRDD` with bounded stats.
    * `rows < 0` means unknown — the frame reports `defaultSizeInBytes`.
    * No-op (returns the input) on any other plan shape, so callers can
    * apply it unconditionally after a cut.
    */
  def rebound(df: DataFrame, rows: Long = -1L, bytesPerRow: Int = 64): DataFrame =
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[SparkSession]
        val stats =
          if (rows < 0L) Statistics(sizeInBytes = spark.sessionState.conf.defaultSizeInBytes)
          else Statistics(sizeInBytes = BigInt(math.max(rows, 1L)) * bytesPerRow,
            rowCount = Some(BigInt(rows)))
        Dataset.ofRows(spark, l.copy()(spark, Some(stats), None))
      case _ => df
    }

  /** A frame over rows already in Catalyst's format, with the exact row
    * count and byte size the caller measured. A one-partition RDD
    * declares `SinglePartition`, so an aggregate or a join over it needs
    * no exchange; the stats let Catalyst broadcast it when it is small.
    * The RDD's rows must match `schema` (unsafe rows, one field per
    * column).
    */
  def scan(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      rows: RDD[InternalRow], rowCount: Long, sizeInBytes: Long): DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    val parts = rows.getNumPartitions
    val partitioning = if (parts == 1) SinglePartition else UnknownPartitioning(parts)
    val stats = Statistics(sizeInBytes = BigInt(sizeInBytes), rowCount = Some(BigInt(rowCount)))
    Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema), rows, partitioning)(
      session, Some(stats), None))
  }
}
