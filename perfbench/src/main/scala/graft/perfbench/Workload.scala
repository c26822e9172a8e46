package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Engine

/** What every workload sees: the session, the facade, a private work
  * directory inside the checkout, the seed and the run length.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val tr: Tracer) {
  val engine = new Engine(spark)
  /** Output-check failures; any entry makes the run incorrect. */
  val problems = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok && problems.size < 50) problems += msg

  def freshDir(rel: String): Path = {
    val d = work.resolve(rel)
    Ctx.rmTree(d)
    Files.createDirectories(d)
  }
}

object Ctx {
  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Latencies of one pass over a workload's fixed operation sequence. A
  * failed operation is kept as +inf, so it counts as missing every
  * percentile.
  */
final class Recorder(tr: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Double]
  val lookups = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** The workload's user operation (batch iteration, upload, search). */
  def op[T](name: String)(body: => T): Option[T] = timed(ops, name)(body)
  /** A point read of what the operation committed. */
  def lookup[T](name: String)(body: => T): Option[T] = timed(lookups, name)(body)

  private def timed[T](into: mutable.ArrayBuffer[Double], name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tr.op(name)(body)
      into += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        into += Double.PositiveInfinity
        if (errors.size < 20) errors += s"$name: $e"
        None
    }
  }

  def wallMs: Double = (ops ++ lookups).filterNot(_.isInfinite).sum
}

object Recorder {
  /** Median (mean of the middle pair for even counts). */
  def p50(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank p90, only when at least ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Option[Double] = {
    val s = xs.sorted; val r = math.ceil(0.9 * s.size).toInt
    if (s.size - r >= 10) Some(s(r - 1)) else None
  }
}

/** One benchmark workload: a fixed, seeded sequence of operations.
  * `prepare` writes the inputs;
  * `warmUp` runs the untimed warm-up operations; `pass` runs the timed
  * sequence;
  * `verify` checks end state; `layers` turns the traced pass into
  * per-layer metrics.
  */
trait Workload {
  def prepare(): Unit
  def warmUp(rec: Recorder): Unit
  def pass(rec: Recorder): Unit
  def verify(): Unit
  def layers(): Map[String, Double]
}
