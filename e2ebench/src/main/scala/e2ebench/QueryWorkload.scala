package e2ebench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.expr

import graft.query.{Changelog, Kql, LogQueries}

/** One query instance from the generator's pool. */
final case class Query(idx: Int, tpe: String, p: JsonNode, rows: Long)

object Query {
  def pool(meta: JsonNode): IndexedSeq[Query] =
    meta.get("queries").elements.asScala.zipWithIndex.map { case (q, i) =>
      Query(i, q.get("type").asText, q, q.get("rows").asLong)
    }.toIndexedSeq

  private def ts(us: Long) = expr(s"timestamp_micros($us)")

  /** The query on the sunk index, through the `Changelog` facade. */
  def onIndex(log: Changelog, q: Query): DataFrame = q.tpe match {
    case "discover" => log.discover(ts(q.p.get("from_us").asLong), ts(q.p.get("to_us").asLong),
      q.p.get("n").asInt)
    case "histogram" => log.histogram(q.p.get("bucket").asText)
    case "search_key" => log.searchKey(q.p.get("key").asText)
    case "search_key_topic" => log.searchKeyTopic(q.p.get("key").asText, q.p.get("topic").asText)
    case "search_field" => log.searchField(q.p.get("field").asText, q.p.get("value").asLong)
    case "search_json" => log.searchJson(q.p.get("path").asText, q.p.get("value").asText)
    case "tombstones" => log.tombstones()
    case "latest" => log.latest()
    case "kql" => log.search(q.p.get("query").asText)
  }

  /** The same query over an envelope frame (the re-consumed records). */
  def onFrame(env: DataFrame, q: Query): DataFrame = q.tpe match {
    case "discover" => LogQueries.discoverPage(env, ts(q.p.get("from_us").asLong),
      ts(q.p.get("to_us").asLong), q.p.get("n").asInt)
    case "histogram" => LogQueries.discoverHistogram(env, q.p.get("bucket").asText)
    case "search_key" => LogQueries.searchKey(env, q.p.get("key").asText)
    case "search_key_topic" =>
      LogQueries.searchKeyTopic(env, q.p.get("key").asText, q.p.get("topic").asText)
    case "search_field" =>
      LogQueries.searchField(env, q.p.get("field").asText, q.p.get("value").asLong)
    case "search_json" =>
      LogQueries.searchJson(env, Wire.JsonField, q.p.get("path").asText, q.p.get("value").asText)
    case "tombstones" => LogQueries.tombstones(env, Wire.JsonField)
    case "latest" => LogQueries.latestStatePerKey(env)
    case "kql" => env.where(Kql.parse(q.p.get("query").asText, s"message.${Wire.JsonField}"))
  }

  /** (row count, order-insensitive hash) of an answer. */
  def summary(q: Query, rows: Seq[Row]): (Long, Long) = {
    val canon = q.tpe match {
      case "histogram" =>
        rows.map(r => s"${Wire.micros(r.getAs[Timestamp]("bucket"))}\u0001${r.getAs[Long]("n")}")
      case _ => rows.map(Wire.envelopeRow)
    }
    (rows.size.toLong, RowHash.of(canon))
  }
}

/**
 * Index once, query many: the changelog is built in set-up from two
 * appends (the second replays a slice of the first, so uid de-duplication
 * is needed), then one client runs a closed loop of seeded draws over
 * nine Discover/search query types. Each answer is collected, as the user
 * receives it, and checked against the same query over the
 * de-duplicated wire records and against the generator's row count.
 */
final class QueryWorkload extends Workload {
  private val SetupRounds = 3
  private val WarmRounds = 2
  private var index = ""
  /** Expected answers, computed once per query instance and process
    * (inputs do not change between the phases of a traced run). */
  private var expected = Map.empty[Int, (Long, Long)]
  private val latencies = ArrayBuffer.empty[(Query, Double, Double, String)]
  /** The traced phase's samples, for the per-type probes. */
  private var traced = Seq.empty[(Query, Double, Double, String)]
  private var phase = 0

  def run(ctx: Ctx, r: Report): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val topics = Wire.topics(ctx.meta)
    val pool = Query.pool(ctx.meta)
    val loop = ctx.meta.get("loop").elements.asScala.map(_.asInt).toIndexedSeq
    Traffic.print(ctx, r)

    val setups = (1 to SetupRounds).map { _ =>
      index = ctx.scratch("query/changelog")
      val t0 = System.nanoTime()
      tr.span("setup") {
        for (f <- Seq("wire.parquet", "replay.parquet"))
          tr.span("sink.append", "input" -> f) {
            Wire.append(Wire.envelope(Wire.read(spark, ctx.input(f)), topics, tr), index)
          }
      }
      (System.nanoTime() - t0) / 1e9
    }

    val log = Changelog(spark, index, Wire.JsonField)
    // untimed: two rounds of one query per type. A type's first run is
    // codegen- and JIT-bound, and a second round still ran about 20 %
    // faster than the first
    val warmStart = System.nanoTime()
    for (_ <- 1 to WarmRounds; q <- pool.groupBy(_.tpe).values.map(_.head))
      Query.onIndex(log, q).collect()
    val warmS = (System.nanoTime() - warmStart) / 1e9
    latencies.clear()
    phase += 1
    var planted = !ctx.opts.plantWrong
    val start = System.nanoTime()
    val deadline = start + (ctx.opts.seconds * 1e9).toLong
    var k = 0
    val answers = ArrayBuffer.empty[(Query, (Long, Long))]
    // whole rounds only (the generator's loop asks every type once a
    // round), so every run times the same mix of query types
    val round = pool.map(_.tpe).distinct.size
    while (System.nanoTime() < deadline || k % round != 0) {
      val q = pool(loop(k % loop.size))
      k += 1
      val group = s"query.$phase.$k"
      val t0 = System.nanoTime()
      var t1 = t0
      val rows = ctx.tracing.grouped(group) {
        tr.span(s"query.${q.tpe}") {
          val df = tr.span("query.plan")(Query.onIndex(log, q))
          tr.span("query.planned")(df.queryExecution.executedPlan)
          t1 = System.nanoTime()
          tr.span("query.exec")(df.collect().toSeq)
        }
      }
      val t2 = System.nanoTime()
      latencies += ((q, (t2 - t0) / 1e6, (t1 - t0) / 1e6, group))
      val answer = if (!planted && rows.nonEmpty) { planted = true; rows.drop(1) } else rows
      answers += q -> Query.summary(q, answer)
    }
    val elapsed = (System.nanoTime() - start) / 1e9

    // the expected answers (untimed): each query asked, over the
    // de-duplicated wire records, decoded independently of the sink
    val missing = answers.map(_._1).distinctBy(_.idx).filterNot(q => expected.contains(q.idx))
    expected ++= missing.map(q => q.idx -> Query.summary(q, Query.onFrame(reconsume(ctx), q).collect().toSeq))
    r.note(f"query phases s: warm-up $warmS%.1f loop $elapsed%.1f" +
      f" reference answers ${(System.nanoTime() - start) / 1e9 - elapsed}%.1f")
    for ((q, got) <- answers) r.op(s"query.${q.tpe}") {
      if (got._1 != q.rows) Some(s"#${q.idx}: ${got._1} rows, generator expects ${q.rows}")
      else if (got != expected(q.idx)) Some(s"#${q.idx}: answer differs from the re-consumed records")
      else None
    }
    if (tr.enabled) traced = latencies.toSeq
    r.note("query latencies ms " + latencies.map(l => f"${l._1.tpe}:${l._2}%.0f").mkString(" "))

    val ms = latencies.map(_._2).toSeq
    val (bytes, files, parts) = Wire.footprint(index)
    r.metric("setup_s", Stats.median(setups), "s")
    r.metric("op_p50_ms", Stats.median(ms), "ms")
    r.metric("op_p90_ms", Stats.quantile(ms, 0.9), "ms")
    r.metric("ops_per_s", ms.size / elapsed, "1/s")
    r.metric("query_p50_ms", Stats.median(ms), "ms")
    r.metric("query_p90_ms", Stats.quantile(ms, 0.9), "ms")
    r.metric("query_samples", ms.size.toDouble, "count")
    r.metric("query_samples_beyond_p90", ms.count(_ > Stats.quantile(ms, 0.9)).toDouble, "count")
    r.metric("op_failure_ratio", r.failed.toDouble / r.attempted, "ratio")
    r.metric("changelog_bytes_per_wire_byte",
      bytes / ctx.meta.get("properties").get("wire_bytes").asDouble, "ratio")
    r.metric("sink.files_written", files.toDouble, "count")
    r.metric("sink.partitions_written", parts.toDouble, "count")
    r.metric("sink.bytes_written", bytes.toDouble, "bytes")
  }

  /** The kafkacat + jq baseline, and the reference answers: the topic
    * consumed again and decoded. The topic holds each offset once (the
    * replay happened between topic and sink), so these are the sink's
    * records de-duplicated on uid. */
  private def reconsume(ctx: Ctx): DataFrame =
    Wire.envelope(Wire.read(ctx.spark, ctx.input("wire.parquet")), Wire.topics(ctx.meta), ctx.tracer)

  /** Per query type: latency, planning time, shuffle bytes, rows read
    * per result row, and the same query over re-consumed records. */
  override def probes(ctx: Ctx, r: Report): Unit = {
    ctx.tracing.drain()
    val table = ArrayBuffer.empty[String]
    table += "| query type | index p50 ms | re-consume ms | re-consume / index |"
    table += "|---|---:|---:|---:|"
    for ((t, samples) <- traced.groupBy(_._1.tpe).toSeq.sortBy(_._1)) {
      val p50 = Stats.median(samples.map(_._2).toSeq)
      val groups = samples.map(s => ctx.tracing.counters.group(s._4))
      val resultRows = samples.map(_._1.rows).sum.toDouble
      val q = samples.head._1
      val reconsumeMs = Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val rows = ctx.tracer.span("query.reconsume", "type" -> t) {
          Query.onFrame(reconsume(ctx), q).collect().toSeq
        }
        val ms = (System.nanoTime() - t0) / 1e6
        r.op(s"query.$t.reconsume") {
          if (Query.summary(q, rows) != expected(q.idx)) Some(s"#${q.idx}: re-consumed answer differs")
          else None
        }
        ms
      })
      r.metric(s"query.$t.p50_ms", p50, "ms")
      r.metric(s"query.$t.plan_ms", Stats.median(samples.map(_._3).toSeq), "ms")
      r.metric(s"query.$t.shuffle_bytes", groups.map(_.shuffleWrite.get).sum.toDouble / samples.size, "bytes")
      r.metric(s"query.$t.rows_read_per_result_row",
        groups.map(_.inputRecords.get).sum / math.max(1.0, resultRows), "ratio")
      r.metric(s"query.$t.reconsume_ms", reconsumeMs, "ms")
      r.metric(s"query.$t.reconsume_ratio", reconsumeMs / p50, "ratio")
      table += f"| $t | $p50%.1f | $reconsumeMs%.1f | ${reconsumeMs / p50}%.2f |"
    }
    table.foreach(l => r.note(s"index-vs-reconsume $l"))
    java.nio.file.Files.write(ctx.opts.work.resolve("index_vs_reconsume.md"),
      table.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
