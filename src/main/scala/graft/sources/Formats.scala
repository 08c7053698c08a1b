package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Result of a quarantined JSONL read: both lanes share one cached
  * scan; `release()` drops the cache once consumers are done. */
final case class QuarantinedRead(clean: DataFrame, quarantined: DataFrame,
    private val raw: DataFrame) {
  def release(): Unit = { raw.unpersist(); () }
}

/** File-format breadth beyond the harness's parquet: CSV, JSON lines,
  * and plain text, with explicit schemas on read (schema inference
  * costs a full extra pass at scale and races on changing data — a
  * 100 TB pipeline always declares its schema).
  *
  * Writers default to snappy parquet elsewhere; these exist for
  * interchange with non-columnar producers/consumers. All paths are
  * directories of part files (distributed write) — single-file output
  * is the sink's job (see [[graft.sinks.FormattedTextSink]]).
  */
object Formats {

  def readCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("header", "true").csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readJsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** JSONL read with a quarantine lane: malformed lines land intact in
    * `_corrupt_record` (PERMISSIVE mode) instead of aborting the job or
    * being dropped silently — at 100 TB some producer always emits a
    * few broken lines, and operations needs to count and inspect them,
    * not die at hour six. Both lanes derive from ONE cached read
    * (Spark refuses to filter on the corrupt column of an uncached
    * json scan, and the `from_json` route would parse twice); call
    * [[QuarantinedRead.release]] when done with both lanes — the
    * cache is otherwise pinned for the session lifetime. */
  def readJsonlWithQuarantine(s: SparkSession, path: String,
      schema: StructType): QuarantinedRead = {
    import org.apache.spark.sql.functions.col
    val corrupt = "_corrupt_record"
    val withLane = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(corrupt,
        org.apache.spark.sql.types.StringType, nullable = true))
    val raw = s.read.schema(withLane)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      .cache()
    QuarantinedRead(
      clean = raw.filter(col(corrupt).isNull)
        .select(schema.fieldNames.map(col).toSeq: _*),
      quarantined = raw.filter(col(corrupt).isNotNull)
        .select(col(corrupt).as("raw_line")),
      raw = raw)
  }

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readOrc(s: SparkSession, path: String): DataFrame =
    s.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}
