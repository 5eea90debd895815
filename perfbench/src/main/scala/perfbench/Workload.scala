package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-run context: the seed, the run's private directory, the
  * benchmark's bundled input files (read-only) and the span recorder. */
final class Ctx(val seed: Long, val work: java.io.File, val data: java.io.File,
                val tr: Tracer) {
  def dir(name: String): java.io.File = {
    val d = new java.io.File(work, name); d.mkdirs(); d
  }
  def path(name: String): String = new java.io.File(work, name).getAbsolutePath
}

/** Latency samples per operation kind, plus attempted/failed counts.
  * A failed operation or a failed output check counts as failed. */
final class OpLog {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Time one closed-loop operation; `body` returns false when its own
    * output check fails. Returns whether it succeeded. */
  def time(kind: String, alsoAs: String*)(body: => Boolean): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try body
      catch { case e: Exception => errors += s"$kind: $e"; e.printStackTrace(); false }
    val dt = (System.nanoTime() - t0) / 1e9
    if (ok) (kind +: alsoAs).foreach(k => samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += dt)
    else failed += 1
    ok
  }

  /** Every operation kind has at least one sample. */
  def covers(kinds: Seq[String]): Boolean = kinds.forall(n(_) > 0)

  def check(name: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += s"check failed: $name" }
  }

  def p(kind: String, q: Double): Double =
    samples.get(kind).filter(_.nonEmpty).map(s => Stats.quantile(s.toSeq, q))
      .getOrElse(Double.NaN)
  def total(kind: String): Double = samples.get(kind).map(_.sum).getOrElse(0.0)
  def n(kind: String): Int = samples.get(kind).map(_.size).getOrElse(0)
}

/** One benchmark workload. The driver calls, in order: [[generate]]
  * (inputs from the seed, untimed), then per set-up repetition
  * [[bootstrap]], then one [[warmUp]] (all timed as set-up), then
  * [[cycle]] in a closed loop until the run's time is up and at least
  * [[minCycles]] cycles ran, then [[check]]. Every cycle does the same
  * work, so a faster engine runs more cycles of the same kind.
  *
  * Every workload reports three operation kinds — `ingest`, `read` and
  * `apply` — whose meaning per workload is given in its doc comment. */
trait Workload {
  /** Cycles a run makes at least, so every run has samples of each
    * operation kind, and at most (its inputs run out). */
  def minCycles: Int
  def maxCycles: Int
  def generate(spark: SparkSession): Unit
  def bootstrap(spark: SparkSession, rep: Int): Unit
  def warmUp(spark: SparkSession): Unit
  def cycle(spark: SparkSession, i: Int, log: OpLog): Unit
  def check(spark: SparkSession, log: OpLog): Unit
  /** Space amplification of the workload's lake table. */
  def storeAmp: Double
  /** The workload's own metric names, printed before the result line. */
  def native(log: OpLog): Seq[(String, Double, String)]
}
