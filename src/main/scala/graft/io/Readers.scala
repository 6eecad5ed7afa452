package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Sources (SURVEY.md §2.1, S1-S4).
  *
  * The reference globs files and loops `pd.read_json` per file
  * (/root/reference/raw_data_reformat.py:2-37); here one declarative scan
  * covers glob + union + filename tagging, so Catalyst can parallelise and
  * prune it.
  */
object Readers {

  /** Timestamp pattern extracted from source file names
    * (/root/reference/raw_data_reformat.py:22-29). */
  val JnamePattern = """\d\d\d\d-\d\d-\d\d\s\d\d-\d\d-\d\d"""

  /** S1+S2: multi-file JSON scan, each row tagged with `jname` = timestamp
    * token from its file name (empty when absent — quirk Q10,
    * raw_data_reformat.py:23-25). `data` is kept as a raw JSON string; the
    * tagged-union payload is parsed per-kind downstream.
    */
  def loadRawJson(spark: SparkSession, dir: String,
                  recursive: Boolean = true,
                  multiLine: Boolean = true): DataFrame =
    spark.read
      .schema(Schemas.rawJson)
      .option("pathGlobFilter", "*.json")
      .option("recursiveFileLookup", recursive.toString)
      // watch uploads are JSON-array files (one array per upload)
      .option("multiLine", multiLine.toString)
      .option("primitivesAsString", "true")
      .json(dir)
      // input_file_name() is URL-encoded (space → %20): decode before the
      // timestamp-pattern match
      .withColumn("jname",
        regexp_extract(url_decode(input_file_name()), JnamePattern, 0))

  /** Schema-evolution parquet read: merges the footers of files written
    * with drifting schemas (a column added mid-stream by an upstream
    * producer) into one superset schema, null-backfilling older files.
    * At 100 TB prefer passing the known superset schema explicitly
    * (`spark.read.schema(...)`) — mergeSchema reads every file footer up
    * front; this wrapper is for the exploration / first-contact pass that
    * DISCOVERS the drift. */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** JSONL scan with corrupt-record routing (the data-engineering staple
    * for crawled/third-party feeds): PERMISSIVE parse against an explicit
    * schema, malformed lines land whole in `_corrupt_record`, and the
    * result splits into (good, bad) frames — bad rows keep their raw line
    * for quarantine sinks instead of poisoning the batch or failing it.
    *
    * The parsed frame is cached before splitting: Spark refuses a filter
    * that references ONLY the internal corrupt-record column of a live
    * JSON scan (SPARK-21610), and the cache also makes the two branches
    * share one parse. Caller unpersists via the returned handle when both
    * sides are consumed. */
  def loadJsonlRouted(spark: SparkSession, path: String,
                      schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame, DataFrame) = {
    val corruptCol = "_corrupt_record"
    val full = schema.add(corruptCol,
      org.apache.spark.sql.types.StringType)
    val parsed = spark.read
      .schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
      .cache()
    val good = parsed.filter(col(corruptCol).isNull).drop(corruptCol)
    val bad = parsed.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"))
    (good, bad, parsed)
  }

  /** ORC source — pair of [[Writers.orc]]; Spark's native ORC scan, with
    * the same predicate pushdown / column pruning / vectorized read as
    * parquet (WritersSpec gates PushedFilters on the round-trip). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Parquet table from a testdata scale-factor directory (TESTDATA.md).
    *
    * Two timestamp-physical-type shims, both normalizing to Spark's native
    * session-TZ `TimestampType` (the session TZ is pinned UTC everywhere,
    * so values are bit-identical to what a UTC oracle reads from the same
    * file):
    *   - TIMESTAMP(NANOS), which Spark's parquet reader rejects
    *     ([PARQUET_TYPE_ILLEGAL]): the sanctioned path is the legacy
    *     nanos-as-long conf + explicit truncation to microseconds.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 reads as
    *     TIMESTAMP_NTZ under the default `inferTimestampNTZ`: cast back to
    *     TimestampType so strictly-TIMESTAMP functions (`unix_micros` etc.)
    *     keep analyzing. The cast does NOT cost parquet pushdown: under a
    *     UTC session Catalyst unwraps it in comparisons, and a range
    *     filter on a shimmed column still lands in the scan's
    *     PushedFilters (verified against the NTZ testdata — the scan
    *     shows `PushedFilters: [GreaterThan(o_orderdate,...)]` with
    *     `ReadSchema: ...timestamp_ntz`).
    * Set at runtime so it works under any session (driver-created
    * included). */
  /** Per-JVM cache of INFERRED parquet schemas keyed by file path: the
    * first `table()` call per path pays the driver-side footer read,
    * every later call passes the schema explicitly — exactly the
    * "pass the known schema at scale" rule ([[parquetMerged]]'s doc,
    * guide §6), applied to the bench's 348-query × per-query re-read
    * pattern. Metadata only (a StructType), never data or results; the
    * schema is whatever inference produced in this same JVM under the
    * same confs, so the frame is identical to the uncached one. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val cached = schemaCache.get(path)
    val raw =
      if (cached != null) spark.read.schema(cached).parquet(path)
      else {
        val r = spark.read.parquet(path)
        schemaCache.putIfAbsent(path, r.schema)
        r
      }
    val df = raw.schema.fields.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        // `div`, not `/`: long/long is a DOUBLE division in Spark SQL and
        // epoch-ns exceeds 2^53, which would corrupt the low microseconds
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => raw
    }
    df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name,
          col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      }
  }
}
