package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-guarded join hints.
  *
  * An unconditional `broadcast(dim)` is wrong at the 100 TB design
  * point: TPC-H-ratio dimensions (supplier, part, customer) grow
  * LINEARLY with scale factor, so a dim that is 2 MB at sf0.1 is tens
  * to hundreds of GB at the design scale — and an explicit broadcast
  * hint OVERRIDES `spark.sql.autoBroadcastJoinThreshold`, so Spark
  * attempts the broadcast anyway and kills the driver collecting it.
  * The ratio ("dims are tiny next to lineitem") is scale-invariant;
  * the absolute bytes that must fit in driver + every executor are
  * not.
  *
  * [[maybeBroadcast]] therefore applies the hint only when the
  * optimizer's OWN size estimate for the dim subplan (parquet footer
  * sizes propagated through the logical plan) is at or below a
  * threshold; otherwise it returns the frame unhinted and the
  * broadcast decision falls to AQE / `autoBroadcastJoinThreshold`,
  * which re-evaluate with ACCURATE runtime sizes and degrade to a
  * shuffle join safely. Small-SF plans keep their BroadcastHashJoin
  * (asserted in PlanQualitySpec); a grown dim degrades instead of
  * OOMing.
  */
object Hints {

  private[operators] def parseBytes(v: String): Long = {
    val t = v.trim
    try t.toLong
    catch { case _: NumberFormatException =>
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(t)
    }
  }

  /** `broadcast(df)` if the plan-estimated size of `df` is within the
    * session's `spark.sql.autoBroadcastJoinThreshold` (negative
    * disables the hint), so the hint never promises more than the
    * session itself would; `df` unchanged otherwise.
    */
  def maybeBroadcast(df: DataFrame): DataFrame = {
    val thr = parseBytes(
      df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    if (thr >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= thr) broadcast(df)
    else df
  }
}
