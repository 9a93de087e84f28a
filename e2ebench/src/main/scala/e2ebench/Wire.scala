package e2ebench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.ConfluentAvro
import graft.sink.ChangelogSink
import graft.transform.Transforms

/** The kafana ingest path as a user composes it from the public API:
  * wire records → per-topic schema-id-dispatched decode → SMT chain →
  * one envelope frame for the changelog. */
object Wire {
  val JsonField = "value_json"

  final case class Topic(name: String, writers: Map[Int, String], reader: String)

  def topics(meta: JsonNode): Seq[Topic] =
    meta.get("schemas").fields.asScala.map { e =>
      val writers = e.getValue.get("writers").fields.asScala
        .map(w => w.getKey.toInt -> w.getValue.asText).toMap
      Topic(e.getKey, writers, e.getValue.get("reader").asText)
    }.toSeq.sortBy(_.name)

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** `ingest` layer: Confluent wire decode, tombstones kept as null. */
  def decode(records: DataFrame, t: Topic): DataFrame = {
    val (struct, _) = ConfluentAvro.decodeOrTombstone(col("value"), t.writers, t.reader)
    records.where(col("topic") === t.name).withColumn("value", struct)
  }

  private def union(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Decode only (no SMT chain), all topics. */
  def decoded(records: DataFrame, ts: Seq[Topic]): DataFrame =
    union(ts.map(decode(records, _)))

  /** Decode + `transform` layer's SMT chain: the changelog envelope. */
  def envelope(records: DataFrame, ts: Seq[Topic], tr: Tracer): DataFrame =
    union(ts.map { t =>
      val d = tr.span("ingest.decode_plan", "topic" -> t.name)(decode(records, t))
      tr.span("transform.enrich_plan", "topic" -> t.name)(Transforms.enrich(JsonField)(d))
    })

  /** `sink` layer write with the audit row: (rows, tombstones). */
  def append(env: DataFrame, path: String): (Long, Long) = {
    val m = ChangelogSink.appendObserved(env, path)
    (m("n_rows").asInstanceOf[Long], m("n_tombstones").asInstanceOf[Long])
  }

  def micros(t: Timestamp): Long =
    Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
      t.getNanos / 1000L)

  /** Canonical string of an envelope row (index or re-consumed frame). */
  def envelopeRow(r: Row): String = {
    val m = r.getAs[Row]("message")
    Seq(r.getAs[String]("uid"), r.getAs[String]("key"), r.getAs[String]("topic"),
      r.getAs[Int]("partition").toString, r.getAs[Long]("offset").toString,
      micros(r.getAs[Timestamp]("timestamp")).toString,
      m.getAs[String](JsonField)).mkString("\u0001")
  }

  /** Total bytes and file count of the parquet files under `dir`, with
    * the number of leaf partition directories. */
  def footprint(dir: String): (Long, Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L, 0L)
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    val bytes = files.map(java.nio.file.Files.size(_)).sum
    val parts = files.map(_.getParent).distinct.size
    (bytes, files.size.toLong, parts.toLong)
  }
}
