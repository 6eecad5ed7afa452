package graft.perfbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import graft.io.Writers
import graft.pipeline.Pipelines

/** Runs `filterNoise` over several subjects two ways -- batched with
  * `partitionCols = Seq("subject")`, and once per subject -- and writes
  * both results as parquet with a `subject` column, for
  * `perfbench/leak_demo.py` to check per subject.
  *
  *   LeakDemo <watch inputs dir> <out dir> */
object LeakDemo {
  def main(args: Array[String]): Unit = {
    val Array(inputs, out) = args
    val spark = SparkSession.builder().master("local[2]")
      .appName("perfbench-leak-demo")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val days = BenchMain.Daily.units(Paths.get(inputs))
    def computed(u: BenchMain.UnitSpec) =
      BenchMain.readComputed(spark, u.path)
        .withColumn("subject", lit(u.path.getParent.getFileName.toString))
    Writers.parquet(
      Pipelines.filterNoise(days.map(computed).reduce(_ unionByName _),
        partitionCols = Seq("subject")),
      Paths.get(out, "batched").toString)
    days.foreach(u => Writers.parquet(Pipelines.filterNoise(computed(u)),
      Paths.get(out, "single", u.id).toString))
    spark.stop()
  }
}
