package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Predicates, range clamps, flatline detection (SURVEY.md §2.2 P1-P6,
  * §2.4 A5, §2.3 J1). */
object Filters {

  /** Physiological ranges (/root/reference/filtering_data.py:202-205,75):
    * kind → (min, max). Max defaults to 1e6. */
  val VitalRanges: Map[String, (Double, Double)] = Map(
    "hr" -> (50.0, 1e6),
    "bp_dia" -> (60.0, 1e6),
    "bp_sys" -> (80.0, 1e6),
    "spo2" -> (80.0, 1e6),
    "st" -> (30.0, 1e6)
  )

  /** P3: band predicate with optional NaN-keep
    * (`subset_df`, /root/reference/filtering_data.py:75-85). */
  def bandPredicate(c: Column, lo: Double, hi: Double,
                    keepNaN: Boolean = true): Column = {
    val band = c.between(lo, hi)
    if (keepNaN) band || isnan(c) else band
  }

  /** P4: partition-replace — clamp one kind's slice, splice back
    * (/root/reference/filtering_data.py:81-83). For many kinds the scalable
    * form is a single `when`-cascade over one scan, not k unions: */
  def clampKinds(df: DataFrame,
                 ranges: Map[String, (Double, Double)],
                 kindCol: String = "kind", valueCol: String = "data",
                 keepNaN: Boolean = true): DataFrame = {
    val inRange = ranges.toSeq.sortBy(_._1)
      .foldLeft(lit(true)) { case (acc, (k, (lo, hi))) =>
        acc && (col(kindCol) =!= k ||
          bandPredicate(col(valueCol), lo, hi, keepNaN))
      }
    df.filter(inRange)
  }

  /** A5: run-length flatline detection → include/exclude intervals
    * (`t_incl`, /root/reference/filtering_data.py:88-111). Runs of > 20
    * identical consecutive values are excluded. Gaps-and-islands:
    * island = rn − rn-per-value; runs partitioned by `partitionCols` so the
    * sort is per-group, not global (100 TB posture — the reference is
    * implicitly single-subject).
    *
    * Returns (partitionCols..., start_time, end_time, n, include).
    */
  def flatlineIntervals(df: DataFrame, tsCol: String, valueCol: String,
                        partitionCols: Seq[String] = Nil,
                        maxRun: Int = 20): DataFrame = {
    val part = partitionCols.map(col)
    val wAll = Window.partitionBy(part: _*).orderBy(col(tsCol))
    val wVal = Window.partitionBy(part :+ col(valueCol): _*)
      .orderBy(col(tsCol))
    df.withColumn("_island",
        row_number().over(wAll) - row_number().over(wVal))
      .groupBy(part :+ col(valueCol) :+ col("_island"): _*)
      .agg(min(col(tsCol)).as("start_time"),
        max(col(tsCol)).as("end_time"),
        count(lit(1)).as("n"))
      .withColumn("include", col("n") <= maxRun)
      .drop("_island")
  }

  /** J1: point-in-interval semi-join — keep fact rows whose timestamp falls
    * inside any interval (`df_filter`, /root/reference/filtering_data.py:114-124;
    * boundaries inclusive both ends, quirk Q9). The interval side is tiny →
    * broadcast; Spark plans BroadcastNestedLoopJoin for the non-equi
    * condition. With `partitionCols` (e.g. a subject key) a fact row only
    * matches its own group's intervals: the join becomes a null-safe
    * equi-join on those columns plus the range condition, which Spark
    * plans as a BroadcastHashJoin. */
  def pointInInterval(fact: DataFrame, intervals: DataFrame,
                      tsCol: String = "date_time",
                      partitionCols: Seq[String] = Nil): DataFrame = {
    // renamed so the key columns of an interval side derived from `fact`
    // stay distinct from the fact's own
    val iv = if (partitionCols.isEmpty) intervals
      else intervals.select(partitionCols.map(c => col(c).as(s"_pii_$c")) :+
        col("start_time") :+ col("end_time"): _*)
    val sameKey = partitionCols.map(c => fact(c) <=> iv(s"_pii_$c"))
    fact.join(broadcast(iv),
      (sameKey :+ (fact(tsCol) >= iv("start_time")) :+
        (fact(tsCol) <= iv("end_time"))).reduce(_ && _),
      "left_semi")
  }

  /** J1 at scale: binned point-in-interval semi-join. Same semantics as
    * [[pointInInterval]] (boundaries inclusive both ends) but the join is
    * an EQUI-join on a coarse time bucket — each interval explodes into
    * the buckets it overlaps, each fact row maps to one bucket, and the
    * exact range predicate filters within the bucket match. Spark plans a
    * hash-partitioned SortMergeJoin/ShuffledHashJoin instead of
    * BroadcastNestedLoopJoin, so the interval side may be arbitrarily
    * large (broadcast would OOM past ~tens of MB, and a nested-loop scan
    * is O(facts × intervals) regardless).
    *
    * Choose `binWidthSec` near the p99 interval length: wider bins mean
    * fewer replica rows per interval but more false bucket matches to
    * filter; an interval spanning B bins contributes B rows to the
    * exploded side. Intervals with `end_time < start_time` match nothing
    * and are dropped before the explode (a negative-range `sequence`
    * would error). */
  def pointInIntervalBinned(fact: DataFrame, intervals: DataFrame,
                            tsCol: String = "date_time",
                            binWidthSec: Long = 3600L): DataFrame = {
    require(binWidthSec > 0)
    val wUs = binWidthSec * 1000000L
    def binOf(c: Column): Column = floor(unix_micros(c.cast("timestamp")) / wUs)
    val iv = intervals
      .filter(col("end_time") >= col("start_time"))
      .select(col("start_time"), col("end_time"),
        explode(sequence(binOf(col("start_time")), binOf(col("end_time"))))
          .as("_pib_bin"))
    val keyed = fact.withColumn("_pib_bin", binOf(col(tsCol)))
    keyed.join(iv,
        keyed("_pib_bin") === iv("_pib_bin") &&
          keyed(tsCol) >= iv("start_time") &&
          keyed(tsCol) <= iv("end_time"),
        "left_semi")
      .drop("_pib_bin")
  }
}
