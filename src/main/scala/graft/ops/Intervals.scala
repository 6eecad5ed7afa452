package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra (SURVEY.md §2.3 J2/J3, §2.5 W3/W4).
  *
  * The reference's two-pointer generator sweep
  * (`subtract_intervals`, /root/reference/activity_categorize.py:104-143) is
  * inherently sequential; the engine re-expresses it as a boundary-event
  * sweep — explode interval endpoints into ±1 deltas, running-sum coverage,
  * emit segments covered by base and not by sub (SURVEY.md §2.8 G2). Fully
  * relational: partitions by subject key, no driver-side loop.
  */
object Intervals {

  /** J2: overlap predicate — touching endpoints count as overlap
    * (`check_overlap`, /root/reference/activity_categorize.py:145-149). */
  def overlaps(aStart: Column, aEnd: Column,
               bStart: Column, bEnd: Column): Column =
    aStart <= bEnd && bStart <= aEnd

  /** J3: base \ sub on closed base intervals (subtracted region treated as
    * open, so clipped remainders keep their touching endpoints — matches the
    * reference's clipping at activity_categorize.py:125-134). Degenerate
    * [a,a] segments are dropped (quirk Q8 cleanup) and empty inputs are
    * handled (Q8 crash fixed). Output intervals are merged/disjoint.
    *
    * Both inputs: (partitionCols..., start_time, end_time).
    */
  def subtractIntervals(base: DataFrame, sub: DataFrame,
                        partitionCols: Seq[String] = Nil): DataFrame =
    sweep(base, sub, partitionCols, _ === 0)

  /** Interval intersection base ∩ sub via the same sweep (engine extension —
    * the reference composes it from two subtracts). */
  def intersectIntervals(base: DataFrame, sub: DataFrame,
                         partitionCols: Seq[String] = Nil): DataFrame =
    sweep(base, sub, partitionCols, _ > 0)

  /** The boundary-event sweep shared by [[subtractIntervals]] and
    * [[intersectIntervals]]: keeps the segments base covers whose sub
    * coverage satisfies `keepSub`, merged. */
  private def sweep(base: DataFrame, sub: DataFrame,
                    partitionCols: Seq[String],
                    keepSub: Column => Column): DataFrame = {
    val part = partitionCols.map(col)
    def events(df: DataFrame, baseDelta: Int, subDelta: Int): DataFrame =
      df.select(part :+ col("start_time").as("t") :+
          lit(baseDelta).as("base_delta") :+ lit(subDelta).as("sub_delta"): _*)
        .unionAll(
          df.select(part :+ col("end_time").as("t") :+
            lit(-baseDelta).as("base_delta") :+
            lit(-subDelta).as("sub_delta"): _*))

    val all = events(base, 1, 0).unionAll(events(sub, 0, 1))
      // collapse simultaneous boundary events so the running sum is
      // well-defined per distinct instant
      .groupBy(part :+ col("t"): _*)
      .agg(sum("base_delta").as("bd"), sum("sub_delta").as("sd"))

    val ord = Window.partitionBy(part: _*).orderBy(col("t"))
    val run = ord.rowsBetween(Window.unboundedPreceding, 0)
    val segments = all
      .withColumn("base_cov", sum(col("bd")).over(run))
      .withColumn("sub_cov", sum(col("sd")).over(run))
      .withColumn("next_t", lead(col("t"), 1).over(ord))
      // segment (t, next_t) is kept iff base covers it and sub's
      // coverage passes keepSub
      .filter(col("next_t").isNotNull &&
        col("base_cov") > 0 && keepSub(col("sub_cov")) &&
        col("t") < col("next_t"))
      .select(part :+ col("t").as("start_time") :+
        col("next_t").as("end_time"): _*)

    // adjacent kept segments share boundary points (splits introduced by
    // irrelevant endpoints) → merge them back; also dedups overlapping base
    Windows.mergeIntervals(segments, partitionCols)
  }
}
