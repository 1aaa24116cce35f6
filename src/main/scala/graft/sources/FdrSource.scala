package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import graft.ocsf.OcsfMappings

/** Reader for raw FDR telemetry: gzipped JSON-lines objects
  * (reference: README.md:34-36, qopcfdr_stream_loader.py:92-136).
  *
  * The reference decompresses one S3 object at a time inside a Lambda;
  * here the whole landing prefix is one `spark.read.text` (Hadoop
  * decompresses `.gz` transparently). A single .gz file is
  * non-splittable, so at 100 TB parallelism comes from the object
  * count — FDR writes thousands of objects per day, giving one task
  * per object, which is exactly the reference's Lambda fan-out
  * re-expressed as Spark partitions.
  *
  * Each line is parsed once into a `fields` map (payload key → value;
  * nested JSON stays as raw JSON text in the value) — the Spark
  * equivalent of the reference's per-line `json.loads`, kept as a map
  * so normalizers can both read fields and compute the `unmapped`
  * remainder with `map_filter`.
  */
object FdrSource {

  private val payloadType = MapType(StringType, StringType)

  /** A1 — gz JSON-lines → DataFrame with `raw` (the line) and `fields`
    * (parsed map). Blank lines are dropped. */
  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    parsed(lines(spark, path))

  private def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("raw")

  /** The one parse of a relation of `raw` lines, batch or streaming:
    * blank lines dropped, `fields` parsed. */
  private def parsed(raw: DataFrame): DataFrame =
    raw.filter(length(trim(col("raw"))) > 0)
      .withColumn("fields", from_json(col("raw"), payloadType))

  /** A2 — the reference's 3-key event-name coalesce
    * (qopcfdr_stream_loader.py:112-127). */
  def eventName(fields: Column): Column =
    coalesce(fields.getItem("event_simpleName"),
             fields.getItem("event_type"),
             fields.getItem("EventType"))

  def withEventName(df: DataFrame): DataFrame =
    df.withColumn("event_name", eventName(col("fields")))
      // lines with no event distinction key are dropped, as in the
      // reference's `continue` (qopcfdr_stream_loader.py:118-127)
      .filter(col("event_name").isNotNull)

  /** A3+A4 — keep only the 122 mapped event types and attach the OCSF
    * base-event mapping + sink route via a broadcast join (the
    * reference's mappedEvents filter + class routing,
    * qopcfdr_stream_loader.py:129-214). Unmapped events are dropped
    * (the reference logs-and-skips them). */
  def mappedWithClass(spark: SparkSession, df: DataFrame): DataFrame =
    df.join(broadcast(OcsfMappings.dimension(spark)),
            col("event_name") === col("eventName"))
      .drop("eventName")

  /** Classified events plus the quarantine relation. The reference
    * logs-and-skips bad lines (py:113-135); at 100 TB a silent drop is
    * invisible data loss, so the skipped lines are a first-class
    * output instead: `quarantined` carries (raw, reason) with reason ∈
    * {unparseable_json, missing_event_key, unmapped_event}, cheap to
    * count per reason or land beside the lake for replay. Both
    * DataFrames share the one scan+parse subtree. */
  final case class Loaded(classified: DataFrame, quarantined: DataFrame)

  def loadWithQuarantine(spark: SparkSession, path: String): Loaded =
    splitQuarantine(spark, lines(spark, path))

  /** Shared batch/streaming split of a relation of `raw` lines. The
    * dimension side is a broadcast static table, so in streaming this
    * is a stream-static join — fully supported, no state store. */
  def splitQuarantine(spark: SparkSession, raw: DataFrame): Loaded = {
    val named = parsed(raw).withColumn("event_name", eventName(col("fields")))
    val mappedNames = OcsfMappings.dimension(spark).select(col("eventName"))
    val good = mappedWithClass(spark, named.filter(col("event_name").isNotNull))
    val quarantined = named
      .join(broadcast(mappedNames), col("event_name") === col("eventName"), "left")
      .filter(col("fields").isNull || col("event_name").isNull || col("eventName").isNull)
      .select(col("raw"),
        when(col("fields").isNull, "unparseable_json")
          .when(col("event_name").isNull, "missing_event_key")
          .otherwise("unmapped_event").as("reason"))
    Loaded(good, quarantined)
  }

  /** Full front-end: raw gz json-lines path → classified events. */
  def load(spark: SparkSession, path: String): DataFrame =
    classify(spark, lines(spark, path))

  /** A relation of `raw` lines (batch or streaming) → classified events. */
  def classify(spark: SparkSession, raw: DataFrame): DataFrame =
    mappedWithClass(spark, withEventName(parsed(raw)))
}
