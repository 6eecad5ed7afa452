package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Accelerometer pipeline (SURVEY.md §2.3 J4/J5, §2.8 G1, §2.2 P9-P11,
  * §2.4 A2-A4).
  *
  * The 3-axis resynchronization (`match_acc`,
  * /root/reference/acc_reformat.py:172-215) is an order-dependent stateful
  * sweep with a growing search window — not expressible relationally without
  * changing results (SURVEY.md §7.4-1). It runs as a per-group
  * `flatMapGroups` sweep: groups are (subject/file) keys, so parallelism is
  * across subjects/days while each group's sweep stays faithful. Everything
  * downstream (g-force, binning, categorize) is declarative.
  */
object Acc {

  /** Semantic constants (SURVEY.md §2.11). */
  val MatchToleranceSec = 0.5 // acc_reformat.py:136
  val SearchToleranceSec = 0.4 // acc_reformat.py:146
  val InitialSearchWindow = 6 // acc_reformat.py:69
  val SearchWindowGrowth = 2 // acc_reformat.py:188
  val SessionGapSec = 1.0 // acc_reformat.py:123
  val SampleSpacingSec = 0.1 // acc_reformat.py:222
  val SamplesPerRecord = 5

  /** Pairwise timestamp agreement. The reference checks |x−y| and |y−z|
    * only — |x−z| is computed as |y−z| twice (quirk Q2,
    * acc_reformat.py:137-139). `allPairs=true` gives the intended
    * semantics. */
  private[graft] def xyzMatch(x: Long, y: Long, z: Long, tolUs: Long,
                              allPairs: Boolean): Boolean = {
    val a = math.abs(x - y)
    val b = math.abs(y - z)
    val c = if (allPairs) math.abs(x - z) else b
    math.max(a, math.max(b, c)) <= tolUs
  }

  /** J5: bounded candidate search — all (i,j,k) combos in the next `n` rows
    * per axis, first match by ascending total skip cost i+j+k
    * (`find_match`, /root/reference/acc_reformat.py:146-169). Runs on ≤~12
    * rows per axis, so the triple loop is fine. */
  private def findMatch(xs: Array[Long], ys: Array[Long], zs: Array[Long],
                        tolUs: Long, allPairs: Boolean): Option[(Int, Int, Int)] = {
    var best: Option[(Int, Int, Int)] = None
    var bestCost = Int.MaxValue
    var i = 0
    while (i < xs.length) {
      var j = 0
      while (j < ys.length) {
        var k = 0
        while (k < zs.length) {
          val cost = i + j + k
          if (cost < bestCost && xyzMatch(xs(i), ys(j), zs(k), tolUs, allPairs)) {
            best = Some((i, j, k)); bestCost = cost
          }
          k += 1
        }
        j += 1
      }
      i += 1
    }
    best
  }

  /** One axis stream inside a group: parallel arrays of (epochMicros,
    * 5-sample payload), time-sorted. */
  private final case class Axis(ts: Array[Long],
                                vals: Array[Array[Double]])

  /** J4 sweep + G1 smoothing for one group. Returns rows
    * (tsMicros, acx, acy, acz) — 5 per aligned record on a smoothed 0.1 s
    * grid anchored per session (`acc_flatten`/`smooth_timestamp`,
    * /root/reference/acc_reformat.py:95-133,218-228). */
  private def sweepGroup(x: Axis, y: Axis, z: Axis,
                         allPairs: Boolean): Iterator[(Long, Double, Double, Double)] = {
    val tolUs = (MatchToleranceSec * 1e6).toLong
    val searchTolUs = (SearchToleranceSec * 1e6).toLong
    var n = InitialSearchWindow
    var px = 0; var py = 0; var pz = 0
    val keptTs = ArrayBuffer.empty[Long]
    val keptX = ArrayBuffer.empty[Array[Double]]
    val keptY = ArrayBuffer.empty[Array[Double]]
    val keptZ = ArrayBuffer.empty[Array[Double]]

    def remaining = math.min(x.ts.length - px,
      math.min(y.ts.length - py, z.ts.length - pz))

    var halted = false
    while (!halted && remaining > n) {
      if (!xyzMatch(x.ts(px), y.ts(py), z.ts(pz), tolUs, allPairs)) {
        var m: Option[(Int, Int, Int)] = None
        var exhausted = false
        while (m.isEmpty && !exhausted) {
          m = findMatch(
            x.ts.slice(px, math.min(px + n, x.ts.length)),
            y.ts.slice(py, math.min(py + n, y.ts.length)),
            z.ts.slice(pz, math.min(pz + n, z.ts.length)),
            searchTolUs, allPairs)
          if (m.isEmpty) {
            // reference grows n unboundedly (acc_reformat.py:186-192);
            // once the window covers every remaining row there is no match
            // anywhere — stop instead of spinning
            if (n >= remaining) exhausted = true else n += SearchWindowGrowth
          }
        }
        m match {
          case Some((i, j, k)) => px += i; py += j; pz += k
          case None => halted = true
        }
      }
      if (!halted) {
        keptTs += x.ts(px)
        keptX += x.vals(px); keptY += y.vals(py); keptZ += z.vals(pz)
        px += 1; py += 1; pz += 1
      }
    }
    // tail: the final n rows per axis are discarded (acc_reformat.py:204-210)

    // session-anchored smoothing: gap > 1 s resets the anchor; record i in a
    // session gets 5 samples at anchor − 0.4 + 0.5·(i − startRow) + 0.1·k
    val gapUs = (SessionGapSec * 1e6).toLong
    val out = ArrayBuffer.empty[(Long, Double, Double, Double)]
    var startRow = 0
    var startTimeUs = 0L
    var i = 0
    while (i < keptTs.length) {
      if (i == 0 || keptTs(i) - keptTs(i - 1) > gapUs) {
        startRow = i; startTimeUs = keptTs(i)
      }
      val t0 = startTimeUs - 400000L + 500000L * (i - startRow)
      var k = 0
      val xi = keptX(i); val yi = keptY(i); val zi = keptZ(i)
      val nk = math.min(SamplesPerRecord,
        math.min(xi.length, math.min(yi.length, zi.length)))
      while (k < nk) {
        out += ((t0 + 100000L * k, xi(k), yi(k), zi(k)))
        k += 1
      }
      i += 1
    }
    out.iterator
  }

  /** J4+G1: align acx/acy/acz streams and explode to the smoothed wide
    * table. Input: tall acc rows (partitionCols..., date_time, kind,
    * data: ARRAY<DOUBLE>). Output: (partitionCols..., date_time, acx, acy,
    * acz).
    *
    * Parallelism: one sweep task per key — partition by subject/file/day
    * upstream. `allPairs=false` reproduces quirk Q2; `true` is the intended
    * all-pairs tolerance check.
    */
  def alignAxes(acTall: DataFrame, partitionCols: Seq[String],
                allPairs: Boolean = false): DataFrame = {
    val spark = acTall.sparkSession
    val outSchema = StructType(
      partitionCols.map(c => acTall.schema(c)) ++ Seq(
        StructField("date_time", TimestampType),
        StructField("acx", DoubleType),
        StructField("acy", DoubleType),
        StructField("acz", DoubleType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    val keyCols = partitionCols
    val slim = acTall.select(
      (keyCols.map(col) ++ Seq(col("kind"),
        unix_micros(col("date_time")).as("ts_us"), col("data"))): _*)

    import spark.implicits._
    slim.groupByKey(r => keyCols.map(c => Option(r.getAs[Any](c))
        .map(_.toString).getOrElse("")).mkString("\u0000"))
      .flatMapGroups { (_, rows) =>
        val byKind = Map("acx" -> ArrayBuffer.empty[(Long, Array[Double], Row)],
          "acy" -> ArrayBuffer.empty[(Long, Array[Double], Row)],
          "acz" -> ArrayBuffer.empty[(Long, Array[Double], Row)])
        var sample: Row = null
        rows.foreach { r =>
          sample = r
          val kind = r.getAs[String]("kind")
          byKind.get(kind).foreach { buf =>
            val arr = r.getAs[scala.collection.Seq[Double]]("data")
            buf += ((r.getAs[Long]("ts_us"), arr.toArray, r))
          }
        }
        if (byKind.values.exists(_.isEmpty)) Iterator.empty
        else {
          def axis(k: String) = {
            val sorted = byKind(k).sortBy(_._1)
            Axis(sorted.map(_._1).toArray, sorted.map(_._2).toArray)
          }
          val keyVals = keyCols.map(c => sample.getAs[Any](c))
          sweepGroup(axis("acx"), axis("acy"), axis("acz"), allPairs)
            .map { case (tsUs, ax, ay, az) =>
              Row.fromSeq(keyVals ++ Seq(
                java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
                  Math.floorDiv(tsUs, 1000000L),
                  Math.floorMod(tsUs, 1000000L) * 1000L)),
                ax, ay, az))
            }
        }
      }
  }

  /** J4 relational re-spec (SURVEY.md §7.4-1): per-record nearest-neighbor
    * matching of y/z to the x timeline via [[AsOf.asofNearest]] — fully
    * declarative, one shuffle per key, parallel within subjects (vs one
    * sweep task per group for the faithful [[alignAxes]]). Semantics
    * differ deliberately from the reference's greedy cursor: each x record
    * independently takes the closest y/z within tolerance (no skip
    * bookkeeping, no tail discard); rows with no in-tolerance match drop
    * out. Smoothing grid matches the reference: session anchor − 0.4 +
    * 0.5·(recordIdx) + 0.1·sample.
    */
  def alignAxesRelational(acTall: DataFrame, partitionCols: Seq[String],
                          toleranceSec: Double = MatchToleranceSec): DataFrame = {
    val part = partitionCols.map(col)
    def axis(k: String, out: String) =
      acTall.filter(col("kind") === k)
        .select(part :+ col("date_time") :+ col("data").as(out): _*)
    val x = axis("acx", "x_data")
    val y = axis("acy", "y_data")
    val z = axis("acz", "z_data")

    val xy = AsOf.asofNearest(x, y, partitionCols, "date_time", "date_time",
      Seq("y_data"), toleranceSec)
      .withColumnRenamed("nearest_y_data", "y_data")
      .drop("nearest_ts", "nearest_diff_us")
    val xyz = AsOf.asofNearest(xy, z, partitionCols, "date_time",
      "date_time", Seq("z_data"), toleranceSec)
      .withColumnRenamed("nearest_z_data", "z_data")
      .drop("nearest_ts", "nearest_diff_us")
      .filter(col("y_data").isNotNull && col("z_data").isNotNull)

    // session-anchored smoothing, relationally: session on >1 s gaps,
    // record index within session, 5-sample explode on the 0.1 s grid
    val sessioned = Windows.sessionize(xyz, "date_time", partitionCols,
      SessionGapSec)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(part :+ col("session_id"): _*).orderBy(col("date_time"))
    val anchored = sessioned
      .withColumn("_rn", row_number().over(w))
      .withColumn("_anchor_us",
        first(unix_micros(col("date_time"))).over(w))
      .withColumn("_t0_us",
        col("_anchor_us") - lit(400000L) +
          lit(500000L) * (col("_rn") - 1))
    anchored
      // cap at SamplesPerRecord like the faithful sweep's
      // min(5, lengths); the post-explode null filter drops zip padding
      // from unequal-length arrays
      .select(part ++ Seq(col("_t0_us"),
        posexplode(arrays_zip(
          slice(col("x_data"), 1, SamplesPerRecord).as("x_data"),
          slice(col("y_data"), 1, SamplesPerRecord).as("y_data"),
          slice(col("z_data"), 1, SamplesPerRecord).as("z_data")))): _*)
      .filter(col("col.x_data").isNotNull && col("col.y_data").isNotNull &&
        col("col.z_data").isNotNull)
      .select(part ++ Seq(
        timestamp_micros(col("_t0_us") + lit(100000L) * col("pos"))
          .as("date_time"),
        col("col.x_data").as("acx"), col("col.y_data").as("acy"),
        col("col.z_data").as("acz")): _*)
  }

  /** P9-P11: seconds-of-day, bin, g-force magnitude
    * (/root/reference/acc_reformat.py:74-85). */
  def accDerived(df: DataFrame, binSize: Int = 300): DataFrame =
    df.withColumn("seconds", TimeOps.secondsOfDay(col("date_time")))
      .withColumn("bin", TimeOps.secondsBin(col("seconds"), binSize))
      .withColumn("g_force",
        sqrt(pow(col("acx"), 2) + pow(col("acy"), 2) + pow(col("acz"), 2)))

  /** A2: resting band = exact (2.5 %, 97.5 %) quantiles of g-force within
    * sleep intervals (`sleep_acc_thresh`,
    * /root/reference/activity_categorize.py:151-162). Exact `percentile`
    * for oracle parity; `percentile_approx` is the documented 100 TB path.
    * With `partitionCols` each group's samples count only inside that
    * group's own sleep intervals; the band is pooled over all groups. */
  def restingBand(acc: DataFrame, sleepIntervals: DataFrame,
                  exact: Boolean = true,
                  partitionCols: Seq[String] = Nil): (Double, Double) = {
    val inSleep = Filters.pointInInterval(acc, sleepIntervals, "date_time",
      partitionCols)
    val agg = if (exact)
      inSleep.select(expr("percentile(g_force, array(0.025, 0.975))"))
    else
      inSleep.select(expr("percentile_approx(g_force, array(0.025, 0.975), 100000)"))
    val r = agg.head().getSeq[Double](0)
    require(r != null,
      "restingBand: no acc samples fall inside the sleep intervals")
    (r(0), r(1))
  }

  /** A4 building blocks, shared by the batch and streaming categorizers
    * (`bin_categorize`, /root/reference/activity_categorize.py:184-192). */
  def outlierFlag(value: org.apache.spark.sql.Column, lo: Double,
                  hi: Double): org.apache.spark.sql.Column =
    when(value < lo || value > hi, 1.0).otherwise(0.0)

  def categoryOf(outlierPct: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(outlierPct > 10, "high active")
      .when(outlierPct > 5, "low active")
      .otherwise("rest")

  /** A3+A4: tumbling-bin categorize — % of samples outside [lo, hi];
    * > 10 % high active, > 5 % low active, else rest
    * (`acc_categorize`/`bin_categorize`,
    * /root/reference/activity_categorize.py:164-192). Map-side partial agg;
    * one shuffle on (partitionCols, window). */
  def binCategorize(acc: DataFrame, lo: Double, hi: Double,
                    partitionCols: Seq[String] = Nil,
                    binSizeMinutes: Int = 5,
                    tsCol: String = "date_time",
                    valueCol: String = "g_force"): DataFrame = {
    val part = partitionCols.map(col)
    val win = TimeOps.timeBucket(col(tsCol), binSizeMinutes * 60L)
    val outlier = outlierFlag(col(valueCol), lo, hi)
    acc.withColumn("start_time", win)
      .groupBy(part :+ col("start_time"): _*)
      .agg((avg(outlier) * 100).as("outlier_pct"))
      .withColumn("end_time",
        col("start_time") + TimeOps.minutesInterval(lit(binSizeMinutes)))
      .withColumn("category", categoryOf(col("outlier_pct")))
      .select(part ++ Seq(col("start_time"), col("end_time"),
        col("category"), col("outlier_pct")): _*)
  }
}
