package e2ebench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.functions.lit

import graft.query.Changelog
import graft.sink.ChangelogSink

/**
 * Reads beside writes. An open-loop generator thread drops one wire-record
 * file every `IntervalMs` (its scheduled creation time) into a landing
 * directory; a streaming query decodes, enriches and writes them with
 * `ChangelogSink.streamAppend`; one reader thread meanwhile runs Discover
 * and a hot-key search on the growing changelog in a closed loop.
 *
 * Rate: 10 files/s of `records_per_file` (200) records each, 2000
 * records/s, well below the sustainable rate — the same decode/write path
 * backfills at over 10^5 records/s on 4 cores, so each micro-batch simply
 * takes whatever files arrived while the previous one ran.
 */
final class StreamWorkload extends Workload {
  private val IntervalMs = 100L
  private val SetupRounds = 3

  /** Micro-batch progress of the running query, by batch id. */
  private final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[(String, Long), (Long, Long, Map[String, Long])]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.put((p.runId.toString, p.batchId), (start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d))
    }
  }

  def run(ctx: Ctx, r: Report): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val topics = Wire.topics(ctx.meta)
    val nFiles = ctx.meta.get("files").asInt
    val perFile = ctx.meta.get("records_per_file").asLong
    val hotKey = ctx.meta.get("hot_key").asText
    def pending(i: Int): Path = Paths.get(ctx.input("files")).resolve(f"f$i%06d.parquet")
    val wireSchema = Wire.read(spark, pending(0).toString).schema
    Traffic.print(ctx, r)

    // open-loop drop: copy under a hidden name, then rename into view
    def drop(i: Int, landing: String): Unit = {
      val tmp = Paths.get(landing).resolve(f".f$i%06d.tmp")
      Files.copy(pending(i), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(landing).resolve(f"f$i%06d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }

    val progress = new Progress
    spark.streams.addListener(progress)
    var landing, sink, ckpt = ""
    var query: StreamingQuery = null
    // set-up: start the stream and commit the warm-up file
    val setups = (1 to SetupRounds).map { i =>
      if (query != null) query.stop()
      landing = ctx.scratch("stream/landing")
      sink = ctx.scratch("stream/changelog")
      ckpt = ctx.scratch("stream/checkpoint")
      Files.createDirectories(Paths.get(landing))
      val t0 = System.nanoTime()
      tr.span("setup") {
        drop(0, landing)
        val source = spark.readStream.schema(wireSchema).parquet(landing)
        query = tr.span("sink.stream_start")(
          ChangelogSink.streamAppend(Wire.envelope(source, topics, tr), sink, ckpt))
        query.processAllAvailable()
      }
      (System.nanoTime() - t0) / 1e9
    }
    ctx.tracing.drain()
    val runId = query.runId.toString
    val warmBatches = progress.batches.keySet.asScala.filter(_._1 == runId).map(_._2)
    val firstMeasured = warmBatches.maxOption.getOrElse(-1L)

    // measured phase: generator and reader run side by side
    val maxFiles = math.min(nFiles - 1, (ctx.opts.seconds * 1000 / IntervalMs).toInt)
    val due = new Array[Long](maxFiles + 1)
    val late = ArrayBuffer.empty[Double]
    val readerMs = ArrayBuffer.empty[Double]
    @volatile var generating = true
    val start = System.currentTimeMillis() + 50
    val generator = new Thread(() => {
      for (i <- 1 to maxFiles) {
        due(i) = start + (i - 1) * IntervalMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late += (System.currentTimeMillis() - due(i)).toDouble
        drop(i, landing)
      }
      generating = false
    }, "e2ebench-generator")
    val readerErrors = ArrayBuffer.empty[Throwable]
    var readerOps = 0L
    val reader = new Thread(() => {
      val log = Changelog(spark, sink, Wire.JsonField)
      var k = 0
      while (generating) {
        val t0 = System.nanoTime()
        try {
          val rows = tr.span("query.stream_reader") {
            if (k % 2 == 0)
              log.discover(lit("2024-01-01").cast("timestamp"), lit("2024-01-02").cast("timestamp"), 100).collect()
            else log.searchKey(hotKey).collect()
          }
          readerMs += (System.nanoTime() - t0) / 1e6
          if (k % 2 == 1 && rows.exists(_.getAs[String]("key") != hotKey))
            throw new IllegalStateException("search_key returned another key")
          if (rows.length > 100 && k % 2 == 0)
            throw new IllegalStateException(s"discover returned ${rows.length} > 100 rows")
        } catch { case e: Throwable => readerErrors += e }
        readerOps += 1
        k += 1
      }
    }, "e2ebench-reader")
    generator.start()
    reader.start()
    generator.join()
    reader.join()
    query.processAllAvailable()
    query.stop()
    spark.streams.removeListener(progress)
    ctx.tracing.drain()

    readerErrors.foreach(e => r.fail("stream.reader", e.getClass.getName, String.valueOf(e.getMessage)))
    r.attempted += readerOps

    // which micro-batch committed each file: the file source's own log
    val fileBatch = sourceLog(Paths.get(ckpt).resolve("sources/0"))
    val batches = progress.batches.asScala.collect {
      case ((run, id), b) if run == runId => id -> b
    }.toMap
    val fresh = (1 to maxFiles).flatMap { i =>
      r.op("stream.commit") {
        fileBatch.get(f"f$i%06d.parquet").flatMap(batches.get) match {
          case Some(_) => None
          case None => Some(f"file f$i%06d.parquet has no committed micro-batch")
        }
      }
      fileBatch.get(f"f$i%06d.parquet").flatMap(batches.get).map(_._1 - due(i)).map(_.toDouble)
    }
    val dataBatches = batches.filter { case (id, b) => id > firstMeasured && b._2 > 0 }.values.toSeq
    val lastCommit = if (dataBatches.isEmpty) start else dataBatches.map(_._1).max

    // correctness: the streamed changelog equals a batch ingest of the
    // same files
    r.op("stream.equals_batch") {
      val files = (0 to maxFiles).map(i => pending(i).toString)
      val batchDir = ctx.scratch("stream/batch")
      Wire.append(Wire.envelope(spark.read.parquet(files: _*), topics, tr), batchDir)
      val streamed = Changelog(spark, sink, Wire.JsonField).frame.collect().toSeq
      val batch = Changelog(spark, batchDir, Wire.JsonField).frame.collect().toSeq
      val got = if (ctx.opts.plantWrong) streamed.drop(1) else streamed
      val expect = (maxFiles + 1) * perFile
      if (batch.size != expect) Some(s"batch ingest has ${batch.size} rows, generated $expect")
      else if (got.size != batch.size) Some(s"streamed ${got.size} rows, batch ingest ${batch.size}")
      else if (RowHash.of(got.map(Wire.envelopeRow)) != RowHash.of(batch.map(Wire.envelopeRow)))
        Some("streamed changelog differs from the batch ingest")
      else None
    }

    val (bytes, files, parts) = Wire.footprint(sink)
    r.metric("setup_s", Stats.median(setups), "s")
    r.metric("op_p50_ms", Stats.median(fresh), "ms")
    r.metric("op_p90_ms", Stats.quantile(fresh, 0.9), "ms")
    r.metric("ops_per_s", fresh.size * perFile / ((lastCommit - start) / 1e3), "1/s")
    r.metric("stream_freshness_p50_ms", Stats.median(fresh), "ms")
    r.metric("stream_freshness_p90_ms", Stats.quantile(fresh, 0.9), "ms")
    r.metric("stream_query_p50_ms", if (readerMs.isEmpty) Double.NaN else Stats.median(readerMs.toSeq), "ms")
    r.metric("stream_input_records_per_s", 1000.0 / IntervalMs * perFile, "1/s")
    r.metric("op_failure_ratio", r.failed.toDouble / r.attempted, "ratio")
    r.metric("sink.stream_batches", dataBatches.size.toDouble, "count")
    r.metric("sink.stream_batch_p50_ms", Stats.median(dataBatches.map(_._3.getOrElse("triggerExecution", 0L).toDouble)), "ms")
    r.metric("sink.stream_source_ms", Stats.median(dataBatches.map(b =>
      (b._3.getOrElse("latestOffset", 0L) + b._3.getOrElse("getBatch", 0L)).toDouble)), "ms")
    r.metric("sink.files_per_partition_end", files.toDouble / math.max(1L, parts), "count")
    r.metric("sink.bytes_written", bytes.toDouble, "bytes")
    r.metric("stream.generator_late_ms", Stats.median(late.toSeq), "ms")
    r.metric("stream.generator_late_max_ms", late.max, "ms")
    r.metric("stream.files", maxFiles.toDouble, "count")
  }

  /** file name → micro-batch id, from the file source's metadata log
    * (one JSON entry per file; compacted logs repeat earlier entries). */
  private def sourceLog(dir: Path): Map[String, Long] = {
    val mapper = new ObjectMapper()
    Files.list(dir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.matches("[0-9]+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f).asScala.drop(1).filter(_.startsWith("{")).map { l =>
        val n = mapper.readTree(l)
        Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString ->
          n.get("batchId").asLong
      }
    }.toMap
  }
}
