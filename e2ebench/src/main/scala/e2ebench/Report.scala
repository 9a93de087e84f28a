package e2ebench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Metrics, correctness failures and the result line of one run. */
final class Report(val workload: String) {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def get(name: String): Option[Double] = metrics.get(name).map(_._1)

  /** Print a human-readable line; the last stdout line stays the result. */
  def note(line: String): Unit = println(s"# $line")

  /** One attempted operation: `check` returns None when the answer is
    * right, or the reason it is wrong; an exception is a failed op too. */
  def op(name: String)(check: => Option[String]): Boolean = {
    attempted += 1
    val problem =
      try check.map(msg => ("WrongAnswer", msg))
      catch {
        case e: Throwable => Some((e.getClass.getName, String.valueOf(e.getMessage)))
      }
    problem.foreach { case (cls, msg) => fail(name, cls, msg) }
    problem.isEmpty
  }

  def fail(op: String, cls: String, msg: String): Unit = {
    failed += 1
    val rec = Json.obj("workload" -> Json.str(workload), "op" -> Json.str(op),
      "exception" -> Json.str(cls), "message" -> Json.str(msg.take(2000)))
    failures += rec
    println(s"failure $rec")
  }

  def failureRecords: Seq[String] = failures.toSeq

  /** Names must all be present: the result lists exactly `names`. */
  def resultLine(names: Seq[String]): String = {
    val missing = names.filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val ms = names.map { n =>
      val (v, u) = metrics(n)
      Json.str(n) + ":" + Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
    }.mkString("{", ",", "}")
    Json.obj("correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> ms)
  }

  def printMetrics(): Unit = metrics.foreach { case (n, (v, u)) =>
    note(f"metric $workload%s $n%s = ${Json.num(v)}%s $u%s")
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** CPU time a virtual machine's host gave to other guests (`steal` in
  * /proc/stat), so samples taken while the machine was not ours can be
  * told apart. Reads 0 where /proc/stat is missing. */
object Steal {
  /** (steal, total) CPU ticks since boot, summed over all CPUs. */
  def ticks(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(f)) (0L, 0L)
    else {
      val cpu = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
    }
  }

  /** Share of CPU time stolen between two `ticks()` readings. */
  def share(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 <= from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)
}

/** Order-insensitive multiset hash: the wrapping sum of a 64-bit hash of
  * each row's canonical string. */
object RowHash {
  def of(rows: Iterable[String]): Long = rows.foldLeft(0L) { (acc, r) =>
    val h = (MurmurHash3.stringHash(r, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(r, 0x0b4d9e57).toLong & 0xffffffffL)
    acc + h
  }
}

/** Just enough JSON writing for the result line and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
