package e2ebench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Command line of the harness (run.py builds it). */
final case class Opts(
    workload: String,
    input: Path,
    work: Path,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    plantWrong: Boolean,
    seed: Long,
    entries: Option[Seq[String]],
    expected: Option[Path],
    record: Option[Path])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      input = Paths.get(need("input")),
      work = Paths.get(need("work")),
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cpus = need("cpus").toInt,
      plantWrong = m.get("plant-wrong").contains("1"),
      seed = need("seed").toLong,
      entries = m.get("entries").map(_.split(",").toSeq.filter(_.nonEmpty)),
      expected = m.get("expected").map(Paths.get(_)),
      record = m.get("record").map(Paths.get(_)))
  }
}

/** What a workload gets: the session, its inputs and the tracer. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracing: Tracing) {
  val meta: JsonNode = {
    val f = opts.input.resolve("expected.json")
    if (Files.exists(f)) new ObjectMapper().readTree(f.toFile) else null
  }
  def tracer: Tracer = tracing.tracer
  def input(name: String): String = opts.input.resolve(name).toString

  /** A fresh, empty directory under this run's work area. */
  def scratch(name: String): String = {
    val p = opts.work.resolve(name)
    Dirs.delete(p)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
    try all.forEach(f => Files.delete(f)) finally all.close()
  }
}

/** A workload sets up (several times, reporting the median) and then
  * measures, writing its end-to-end metrics into the report. */
trait Workload {
  def run(ctx: Ctx, r: Report): Unit
  /** Extra per-layer probes, traced runs only. */
  def probes(ctx: Ctx, r: Report): Unit = ()
  /** Traced-run probes that need their own session, after the main one
    * has stopped. */
  def afterSession(opts: Opts, meta: JsonNode, r: Report): Unit = ()
}

object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "op_p90_ms", "ops_per_s")
  val PerLayer: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.input_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.plan_ms", "spark.cached_relations_left", "trace.spans",
    "trace.overhead_op_p50")

  def session(opts: Opts): SparkSession = {
    val local = opts.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", opts.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String): Workload = name match {
    case "ingest" => new IngestWorkload
    case "query" => new QueryWorkload
    case "stream" => new StreamWorkload
    case "entries" => new EntriesWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    Files.createDirectories(opts.work)
    val spark = session(opts)
    val tracing = new Tracing(spark)
    val ctx = new Ctx(spark, opts, tracing)
    val w = workload(opts.workload)
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
      .map(k => s"$k=${spark.conf.get(k)}").mkString(" ")
    println(s"# config $conf defaultParallelism=${spark.sparkContext.defaultParallelism}" +
      s" nproc=${opts.cpus} spark=${spark.version} jdk=${System.getProperty("java.version")}" +
      s" workload=${opts.workload} seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0}")

    val untraced = new Report(opts.workload)
    val phases = scala.collection.mutable.ArrayBuffer(untraced)
    w.run(ctx, untraced)
    untraced.printMetrics()
    val result =
      if (!opts.trace) untraced
      else {
        // untraced, traced, untraced again: the overhead compares the
        // traced phase with the untraced phase after it (the JVM is at
        // least as warm there, so the estimate errs high, not low)
        tracing.install()
        val traced = new Report(opts.workload)
        phases += traced
        w.run(ctx, traced)
        traced.printMetrics()
        tracing.tracer.enabled = false
        val again = new Report(opts.workload)
        phases += again
        w.run(ctx, again)
        again.printMetrics()
        tracing.tracer.enabled = true
        Overhead.report(again, traced)
        w.probes(ctx, traced)
        tracing.engineMetrics(traced)
        traced.metric("trace.overhead_op_p50",
          traced.get("op_p50_ms").get / again.get("op_p50_ms").get, "ratio")
        for (u <- Seq(untraced, again)) {
          traced.attempted += u.attempted
          traced.failed += u.failed
        }
        tracing.tracer.write(opts.work.resolve("spans.jsonl"))
        println(s"# spans ${opts.work.resolve("spans.jsonl")}")
        traced
      }
    spark.stop()
    if (opts.trace) {
      w.afterSession(opts, ctx.meta, result)
      result.printMetrics()
    }
    val failures = phases.flatMap(_.failureRecords)
    Files.write(opts.work.resolve("failures.jsonl"),
      failures.mkString("", "\n", if (failures.isEmpty) "" else "\n").getBytes("UTF-8"))
    println(result.resultLine(if (opts.trace) PerLayer else EndToEnd))
    if (result.failed > 0) sys.exit(1)
  }
}

object Overhead {
  /** Tracing overhead per end-to-end metric: traced / untraced - 1. */
  def report(untraced: Report, traced: Report): Unit =
    Main.EndToEnd.foreach { n =>
      for (a <- untraced.get(n); b <- traced.get(n))
        traced.note(f"overhead ${traced.workload}%s $n%s untraced=${Json.num(a)}%s" +
          f" traced=${Json.num(b)}%s overhead=${(b / a - 1) * 100}%.1f%%")
    }
}
