package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An op that threw; already counted as failed. */
final class OpFailed(cause: Throwable) extends RuntimeException(cause)

/** One timed unit of a workload: a per-sample pipeline, one op chain or
  * one request. */
final case class IterRec(id: Long, index: Int, kind: String, startMs: Double,
    endMs: Double, units: Double, traced: Boolean) {
  def wallMs: Double = endMs - startMs
}

/** State shared by the workloads: the session, the clock, the span
  * store and the op/check tallies that become `attempted` / `failed`.
  */
final class Harness(val spark: SparkSession, val cores: Int, val workDir: File,
    val tracer: Option[Tracer]) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var idSeq = 0L
  def nextId(): Long = { idSeq += 1; idSeq }

  /** True while the current op's jobs should be attributed by the tracer. */
  var tracing = false
  private var parent = 0L

  val spans = mutable.ArrayBuffer.empty[OpSpan]
  val iters = mutable.ArrayBuffer.empty[IterRec]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Time one call into the engine. With tracing on, its jobs carry the
    * op's id as their job group. A throwing op is counted as failed and
    * rethrown. */
  def op[T](name: String, kind: String = "")(body: => T): T = {
    val id = nextId()
    val sc = spark.sparkContext
    val traced = tracing && tracer.isDefined
    if (traced) sc.setJobGroup(tracer.get.GroupPrefix + id, name, interruptOnCancel = false)
    attempted += 1
    val s = nowMs()
    try body
    catch {
      case t: OpFailed => throw t
      case t: Throwable => failed += 1; failures += s"$name: $t"; throw new OpFailed(t)
    }
    finally {
      val e = nowMs()
      if (traced) sc.clearJobGroup()
      spans += OpSpan(id, name, if (kind.isEmpty) name else kind, parent, s, e, traced)
    }
  }

  /** Time one unit of work. `body` returns the units done and a check
    * that runs after the clock stops. */
  def iteration(index: Int, kind: String, traced: Boolean)(
      body: => (Double, () => Unit)): Unit = {
    val id = nextId()
    parent = id
    tracing = traced
    val s = nowMs()
    val result =
      try Some(body)
      catch {
        case _: OpFailed => None
        case t: Throwable => check(s"iteration $index", ok = false, t.toString); None
      }
    val e = nowMs()
    tracing = false
    parent = 0L
    result.foreach { case (units, after) =>
      iters += IterRec(id, index, kind, s, e, units, traced)
      try after()
      catch { case t: Throwable => check(s"check after iteration $index", ok = false, t.toString) }
    }
  }

  /** Record one correctness check; a failed check counts as a failed op. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$name: $detail" }
  }

  def dir(name: String): File = {
    val d = new File(workDir, name); d.mkdirs(); d
  }

  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}

/** A benchmark workload. Inputs are regenerated for each set-up
  * repetition `rep` into fresh files and tables. */
trait Workload {
  def name: String
  def unit: String
  /** Smallest number of timed iterations a run makes, whatever the clock. */
  def minIterations: Int
  /** Generate inputs and build indexes and layouts into fresh files and
    * tables. */
  def setup(h: Harness, rep: Int): Unit
  /** One untimed pass over every kind of timed op, after the last set-up. */
  def warmup(h: Harness): Unit
  /** Drop the files and tables of a finished set-up repetition. */
  def discard(h: Harness, rep: Int): Unit
  def iteration(h: Harness, index: Int, traced: Boolean): Unit
  /** Untimed correctness checks over the last repetition's outputs. */
  def check(h: Harness): Unit
  /** Workload-specific named metrics: name -> (value, unit). */
  def named(h: Harness, untraced: Seq[IterRec]): Seq[(String, Double, String)]
  /** Traced-run layer probes that the op spans do not cover. */
  def probes(h: Harness, traced: Seq[IterRec]): Map[String, Double]
  /** Extra record fields (e.g. pending oracle checks for the caller). */
  def record: Map[String, Any] = Map.empty
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
