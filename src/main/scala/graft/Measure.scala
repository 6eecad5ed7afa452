package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.util.Using
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.io.Readers

/** Dev measurement main for the [[SparkEntry.queries]] registry. Not part
  * of the driver contract; `Bench` stays the reported number.
  *
  * Usage: runMain graft.Measure <sfDir> <q1,q2,...|all> [--reps N]
  * [--explain] [--replicate K]
  *
  *  - default: per query one warm-up `count()`, then N (default 2) timed
  *    `count()`s, and one JSON line with the fastest run's wall seconds
  *    and the Spark work it did: jobs, stages, tasks, shuffle-write and
  *    spill bytes. At sf0.1 a query's seconds are mostly its job and
  *    stage count, not its bytes, so the counts explain the time.
  *  - `--explain`: prints each query's formatted physical plan instead.
  *  - `--replicate K`: writes a K× copy of `sfDir` ([[replicate]]), times
  *    each query on 1× and on K×, and prints both with the K×/1× ratio:
  *    near K is linear growth, well above K flags a query to fix. Single
  *    runs at these sizes swing with GC and host load, so a ratio of two
  *    single runs compounds the error; keep `--reps` at 2 or more.
  *
  * The session is Verify's: local[SPARK_GRAFT_CPUS] (default 4), as many
  * shuffle partitions, UTC, UI off. */
object Measure {

  private val Usage = "usage: graft.Measure <sfDir> <q1,q2,...|all> " +
    "[--reps N] [--explain] [--replicate K]"

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  private final case class Opts(reps: Int = 2, explain: Boolean = false,
                                replicate: Int = 1)

  @annotation.tailrec
  private def parse(rest: List[String], o: Opts): Opts = rest match {
    case Nil => o
    case "--reps" :: n :: t => parse(t, o.copy(reps = n.toInt))
    case "--explain" :: t => parse(t, o.copy(explain = true))
    case "--replicate" :: k :: t => parse(t, o.copy(replicate = k.toInt))
    case other :: _ =>
      throw new IllegalArgumentException(s"unknown option $other\n$Usage")
  }

  /** Runs the command line against `spark`, printing one line per query
    * (a JSON record, or a plan with `--explain`). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val sfDir = args(0)
    val o = parse(args.drop(2).toList, Opts())
    require(o.reps >= 1 && o.replicate >= 1, Usage)
    val registry = SparkEntry.queries
    val names =
      if (args(1) == "all") registry.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    if (o.explain) {
      names.foreach { n =>
        println(s"== $n ==")
        registry(n)(spark, sfDir).explain("formatted")
      }
      return
    }
    val scaled =
      if (o.replicate > 1) Some(replicate(spark, sfDir, o.replicate))
      else None
    val meter = new Meter(spark)
    def best(name: String, dir: String): Record = {
      val query = registry(name)
      meter.time(query(spark, dir)) // warm-up: codegen, file listing
      (1 to o.reps).map(_ => meter.time(query(spark, dir))).minBy(_.wallS)
    }
    try names.foreach { n =>
      val fields = try scaled match {
        case None => best(n, sfDir).json
        case Some(dir) =>
          val (a, b) = (best(n, sfDir), best(n, dir.toString))
          s""""replicate": ${o.replicate}, "x1": {${a.json}}, """ +
            s""""x${o.replicate}": {${b.json}}, "ratio": """ +
            s"${round(b.wallS / a.wallS)}"
      } catch { case NonFatal(e) =>
        s""""error": ${str(Option(e.getMessage).getOrElse(e.toString))}"""
      }
      println(s"""{"query": ${str(n)}, $fields}""")
    } finally {
      meter.close()
      scaled.foreach(delete)
    }
  }

  /** One timed `count()`: wall seconds and the Spark work it ran. */
  private final case class Record(wallS: Double, jobs: Int, stages: Int,
                                  tasks: Long, shuffleWriteBytes: Long,
                                  spillBytes: Long) {
    def json: String = s""""wall_s": ${round(wallS)}, "jobs": $jobs, """ +
      s""""stages": $stages, "tasks": $tasks, """ +
      s""""shuffle_write_bytes": $shuffleWriteBytes, """ +
      s""""spill_bytes": $spillBytes"""
  }

  /** Counts the Spark work of each timed run. A run's jobs carry its own
    * job group, and each completed stage counts toward the run whose job
    * submitted it, so events of an earlier run still in flight are not
    * counted. */
  private final class Meter(spark: SparkSession) extends SparkListener {
    private final class Counts {
      @volatile var jobs, stages = 0
      @volatile var tasks, shuffleWrite, spill = 0L
    }
    private val byGroup = new ConcurrentHashMap[String, Counts]()
    private val byStage = new ConcurrentHashMap[Int, Counts]()
    private var runs = 0
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(byGroup.get(g)))
        .foreach { c =>
          c.jobs += 1
          e.stageIds.foreach(byStage.put(_, c))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.remove(e.stageInfo.stageId)).foreach { c =>
        val m = e.stageInfo.taskMetrics
        c.stages += 1
        c.tasks += e.stageInfo.numTasks
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }

    /** Builds `df` and runs its `count()` once, timed; then drops the
      * caches the query pinned. */
    def time(df: => DataFrame): Record = {
      val sc = spark.sparkContext
      runs += 1
      val group = s"graft-measure-$runs"
      val c = new Counts
      byGroup.put(group, c)
      sc.setJobGroup(group, group)
      val t0 = System.nanoTime()
      try df.count() finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(sc)
      byGroup.remove(group)
      spark.catalog.clearCache()
      Record(wall, c.jobs, c.stages, c.tasks, c.shuffleWrite, c.spill)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** Writes a `k`× copy of `sfDir` to a new directory under the temp dir
    * and returns it. `documents`, `embeddings` and `events` hold k copies
    * of their rows: copy r offsets every id column by r·(max id + 1), so
    * ids stay distinct and events of different copies belong to disjoint
    * users; documents' text gains " replica$r" and every embedding
    * coordinate gains 0.001·r, so copies are near- but not exact
    * duplicates. The copies keep the column types `Readers.table` reads.
    * Every other table is symlinked. */
  def replicate(spark: SparkSession, sfDir: String, k: Int): Path = {
    val rules: Map[String, (Seq[String], Int => Map[String, Column])] = Map(
      "documents" -> (Seq("doc_id"), r =>
        if (r == 0) Map.empty
        else Map("text" -> concat(col("text"), lit(s" replica$r")))),
      "embeddings" -> (Seq("vec_id"), r =>
        Map("embedding" -> transform(col("embedding"), x => x + r * 0.001))),
      "events" -> (Seq("user_id", "event_id"), _ => Map.empty))
    val out = Files.createTempDirectory(s"graft_measure_${k}x_")
    new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted
      .foreach { file =>
        val name = file.stripSuffix(".parquet")
        rules.get(name) match {
          case Some((ids, changed)) =>
            val base = Readers.table(spark, sfDir, name)
            val step = ids.map(c =>
              c -> (base.agg(max(col(c))).head().getLong(0) + 1))
            (0 until k).map { r =>
              base.withColumns(changed(r) ++
                  step.map { case (c, s) => c -> (col(c) + lit(r * s)) })
                .select(base.schema.map(f =>
                  col(f.name).cast(f.dataType).as(f.name)): _*)
            }.reduce(_ union _)
              .write.parquet(out.resolve(file).toString)
          case None =>
            Files.createSymbolicLink(out.resolve(file),
              Paths.get(sfDir, file).toAbsolutePath)
        }
      }
    out
  }

  /** Deletes a directory [[replicate]] wrote; symlinks go, not targets. */
  def delete(dir: Path): Unit = Using.resource(Files.walk(dir)) {
    _.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  private def round(x: Double): Double = math.rint(x * 1e4) / 1e4

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
