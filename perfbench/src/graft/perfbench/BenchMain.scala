package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, PerfbenchAccess, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.Run
import graft.io.{Readers, Writers}
import graft.ops.{Acc, Normalize, TimeOps}
import graft.pipeline.Pipelines

/** JVM side of the end-to-end benchmark: drives one workload through the
  * program's public entry points in a closed loop with one client (this
  * thread) and writes raw timings, spans and Spark counters as JSON.
  * `perfbench/run.py` generates the inputs, starts this main, checks the
  * outputs and prints the metrics.
  *
  *   BenchMain --workload <watch_daily|docs_curate>
  *     --inputs <dir> --work <dir> --seconds <s> --trace <0|1>
  *     [--setups <n>] [--cores <n>]
  *
  * `<inputs>/main` holds the measured units, `<inputs>/warmup` the unit
  * each set-up runs once. Set-up (session start plus warm-up) is repeated
  * `--setups` times; the measured passes then run until `--seconds` would
  * be exceeded (at least one). With `--trace 1` listeners record Spark's
  * counters, and one extra pass runs with a span around every layer call;
  * in the lazy library chain each layer's output is forced (persisted,
  * then written to the no-op sink) at its span boundary so that its time
  * lands in its own span. */
object BenchMain {

  final case class Opts(workload: String, inputs: Path, work: Path,
                        seconds: Double, trace: Boolean, setups: Int,
                        cores: Int)

  final case class UnitRun(id: String, pass: Int, phase: String,
                           startMs: Long, seconds: Double,
                           error: Option[String], out: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val o = Opts(need("--workload"), Paths.get(need("--inputs")),
      Paths.get(need("--work")), need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1",
      kv.getOrElse("--setups", "2").toInt,
      kv.getOrElse("--cores", "4").toInt)
    val wl: Workload = o.workload match {
      case "watch_daily" => Daily
      case "docs_curate" => Docs
      case other => sys.error(s"unknown workload $other")
    }
    val units = wl.units(o.inputs.resolve("main"))
    val warm = wl.units(o.inputs.resolve("warmup")).head
    Files.createDirectories(o.work)

    var spark: SparkSession = null
    val setupS = (1 to o.setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      val dst = o.work.resolve(s"warmup$i")
      wl.run(spark, warm.id, wl.prepare(warm, dst), dst, new Tracer(spark),
        traced = false)
      (System.nanoTime() - t0) / 1e9
    }

    val rec = if (o.trace) Some(new Recorder) else None
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    val tracer = new Tracer(spark)
    val runs = ArrayBuffer[UnitRun]()

    def runUnit(u: UnitSpec, pass: Int, traced: Boolean): UnitRun = {
      val dst = o.work.resolve(f"p$pass%02d").resolve(u.id)
      val in = wl.prepare(u, dst)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err =
        try {
          tracer.span("unit", u.id)(wl.run(spark, u.id, in, dst, tracer,
            traced))
          None
        } catch {
          case e: Throwable =>
            Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        } finally spark.catalog.clearCache()
      val r = UnitRun(u.id, pass, tracer.phase, startMs,
        (System.nanoTime() - t0) / 1e9, err, dst)
      runs += r
      r
    }

    val passWalls = ArrayBuffer[Double]()
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    var pass = 0
    while (pass == 0 ||
           elapsed + passWalls.sorted.apply(passWalls.size / 2) <= o.seconds) {
      pass += 1
      passWalls += units.map(u => runUnit(u, pass, traced = false).seconds).sum
    }
    val rssKb = peakRssKb()

    var tracedWall = -1.0
    if (o.trace) {
      tracer.phase = "trace"
      pass += 1
      tracedWall = units.map(u => runUnit(u, pass, traced = true).seconds).sum
    }

    rec.foreach { r =>
      PerfbenchAccess.drain(spark.sparkContext)
      Files.write(o.work.resolve("spans.jsonl"),
        Recorder.spansJson(tracer.spans.toSeq, r, o.cores).asJava)
      Files.write(o.work.resolve("jobs.jsonl"), Recorder.jobsJson(r).asJava)
    }
    val unitJson = runs.map { r =>
      Json.obj(Seq("id" -> Json.str(r.id), "pass" -> r.pass.toString,
        "phase" -> Json.str(r.phase), "start_ms" -> r.startMs.toString,
        "seconds" -> Json.num(r.seconds),
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "out" -> Json.str(r.out.toString)))
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "cores" -> o.cores.toString,
      "setup_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "pass_wall_s" -> passWalls.map(Json.num).mkString("[", ", ", "]"),
      "traced_wall_s" -> Json.num(tracedWall),
      "peak_rss_kb" -> rssKb.toString,
      "units" -> unitJson.mkString("[\n", ",\n", "\n]")))
    Files.writeString(o.work.resolve("result.json"), result)
    spark.stop()
  }

  private def session(o: Opts): SparkSession = {
    val tmp = o.work.resolve("tmp")
    Files.createDirectories(tmp)
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The process's resident-set high-water mark (Linux). */
  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  // ---- workloads -----------------------------------------------------------

  final case class UnitSpec(id: String, path: Path)

  sealed trait Workload {
    def units(dir: Path): Seq[UnitSpec]
    /** Untimed per-unit preparation: creates the unit's fresh output
      * directory `dst` and returns the path the unit reads. */
    def prepare(u: UnitSpec, dst: Path): Path = {
      Files.createDirectories(dst); u.path
    }
    /** One unit: reads `in`, writes every output under `out`. */
    def run(spark: SparkSession, id: String, in: Path, out: Path,
            tr: Tracer, traced: Boolean): Unit
  }

  private def listSorted(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  /** Persist `df` and materialise it through the no-op sink, so the
    * caller's span holds its computation and later spans read it back. */
  private def force(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.write.format("noop").mode("overwrite").save()
    p
  }

  private val ComputedSchema = StructType(Seq(
    StructField("date_time", TimestampType),
    StructField("kind", StringType), StructField("data", DoubleType)))

  /** A subject-day's per-minute vendor table. */
  private[perfbench] def readComputed(spark: SparkSession,
                                      day: Path): DataFrame =
    spark.read.schema(ComputedSchema).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(day.resolve("computed.csv").toString)

  /** The library chain under the CLI -- reformat -> accReformat ->
    * filterNoise -> categorizeFull -> parquet sinks -- with one span per
    * layer, each opened around the calls into that layer's public
    * functions (Pipelines.reformat and Pipelines.accReformat are unrolled
    * into their layer calls). */
  object LibraryChain {
    def traced(spark: SparkSession, id: String, in: Path, out: Path,
               tr: Tracer): Unit = {
      val raw = tr.span("readers", id) {
        force(Readers.loadRawJson(spark, in.toString))
      }
      val (meas, ppg, ac) = tr.span("normalize", id) {
        val conv = TimeOps.convertDateTime(raw, 0L, "UTC")
        (force(Normalize.normalizeMeasurements(conv)),
          force(Normalize.waveforms(conv, Seq("ppg"))),
          force(Normalize.waveforms(conv, Seq("acx", "acy", "acz"))))
      }
      val acc = tr.span("acc", id) {
        val aligned = tr.span("acc.align", id)(force(Acc.alignAxes(ac, Nil)))
        force(Acc.accDerived(aligned))
      }
      val filtered = tr.span("filters", id) {
        force(Pipelines.filterNoise(readComputed(spark, in)))
      }
      val cat = tr.span("categorize", id) {
        val c = Pipelines.categorizeFull(filtered, acc)
        c.copy(categorizedAcc = force(c.categorizedAcc),
          timeline = force(c.timeline))
      }
      tr.span("sink", id) {
        Seq("measurements" -> meas, "ppg" -> ppg, "acc" -> acc,
          "filtered" -> filtered, "acc_category" -> cat.categorizedAcc,
          "timeline" -> cat.timeline).foreach { case (name, df) =>
          Writers.parquet(df, out.resolve(name).toString)
        }
      }
    }
  }

  /** One subject-day through the four `graft.Run` subcommands of the
    * reference workflow, in fresh directories. */
  object Daily extends Workload {
    def units(dir: Path): Seq[UnitSpec] = listSorted(dir)
      .filter(Files.isDirectory(_))
      .flatMap(listSorted).filter(Files.isDirectory(_))
      .map(p => UnitSpec(p.getFileName.toString, p))

    /** Copy the day's uploads and vendor table to `dst/<subject>/<day>`
      * (so `timestamp_diff.txt` lands in `dst`, two levels up). */
    override def prepare(u: UnitSpec, dst: Path): Path = {
      val day = dst.resolve(u.path.getParent.getFileName)
        .resolve(u.path.getFileName)
      Files.createDirectories(day)
      listSorted(u.path).foreach(f =>
        Files.copy(f, day.resolve(f.getFileName),
          StandardCopyOption.COPY_ATTRIBUTES))
      day
    }

    def run(spark: SparkSession, id: String, in: Path, out: Path,
            tr: Tracer, traced: Boolean): Unit = {
      cli(id, in, tr, traced)
      if (traced)
        tr.span("library", id)(LibraryChain.traced(spark, id, in,
          out.resolve("library"), tr))
    }

    private def cli(id: String, in: Path, tr: Tracer,
                    traced: Boolean): Unit = {
      def stage(name: String, args: String*): Unit =
        if (traced) tr.span(s"run.$name", id)(Run.main(args.toArray))
        else Run.main(args.toArray)
      val base = in.getFileName.toString
      val subject = in.getParent.getFileName.toString
      def f(name: String) = in.resolve(name).toString
      stage("reformat", "reformat", "-d", in.toString)
      stage("acc", "acc", "-f", f(s"0_${base}_ac.csv"))
      stage("filter", "filter", "-f", f("computed.csv"),
        "-s", f("filtered.csv"))
      stage("categorize", "categorize", "-f", f("filtered.csv"),
        "-a", f(s"0_${base}_ac_reformatted.csv"), "-s", f(subject))
    }
  }

  /** One document batch through `Pipelines.curate` with its defaults,
    * written as parquet. */
  object Docs extends Workload {
    def units(dir: Path): Seq[UnitSpec] = listSorted(dir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => UnitSpec(p.getFileName.toString.stripSuffix(".parquet"), p))

    def run(spark: SparkSession, id: String, in: Path, out: Path,
            tr: Tracer, traced: Boolean): Unit = {
      val docs = spark.read.parquet(in.toString)
      val target = out.resolve("curated").toString
      if (!traced) Writers.parquet(Pipelines.curate(docs), target)
      else {
        val curated = tr.span("curate", id)(force(Pipelines.curate(docs)))
        tr.span("sink", id)(Writers.parquet(curated, target))
      }
    }
  }
}
