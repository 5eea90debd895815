package perfbench

import graft.operators.TxLog

/** Lake-table file accounting from the table's own log. */
object Lake {
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Append to a catalog table, as the `sources.lake_append` layer. */
  def append(tr: Tracer, df: org.apache.spark.sql.DataFrame, table: String,
             root: String): Unit = tr.span("sources.lake_append") {
    val before = dataFiles(root)
    df.writeTo(table).append()
    if (tr.enabled) {
      val added = dataFiles(root) -- before
      tr.count("files", added.size.toDouble)
      tr.count("mb", added.toSeq.map(new java.io.File(_).length()).sum / 1e6)
    }
  }

  def dataFiles(root: String): Set[String] =
    walk(new java.io.File(root, "data")).map(_.getAbsolutePath).toSet

  /** Bytes of the live snapshot's data files (the log's `size` counts
    * rows, so the files are measured on disk). */
  def liveBytes(root: String): Long =
    TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
      .map(f => new java.io.File(f.path).length()).sum

  /** Every byte under the table root (data, log, checkpoints, deletion
    * vectors, change-feed sidecars) over the live snapshot's data bytes. */
  def storeAmp(root: String): Double =
    walk(new java.io.File(root)).map(_.length()).sum.toDouble / liveBytes(root)

  /** Log versions a reader replays past the last checkpoint. */
  def versionsPastCheckpoint(root: String): Long = {
    val versions = Option(new java.io.File(s"$root/log").list()).toSeq.flatten
      .flatMap(n => "\\d+".r.findFirstIn(n)).map(_.toLong)
    val ckpt = TxLog.readPointer(s"$root/ckpt").getOrElse(-1L)
    versions.count(_ > ckpt).toLong
  }

  /** Rows the leaf scans of `df`'s executed plan produced (their
    * `numOutputRows`), before any filter above them; read after `df`
    * ran. */
  def scanRowsRead(df: org.apache.spark.sql.DataFrame): Long = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }

  /** Run `body` with dynamic partition pruning off. A lake scan whose
    * stats column was pruned from its output still names that column as
    * its runtime-filter attribute, and Spark's pruning rule then fails to
    * resolve it; joins whose lake side drops the stats column need this. */
  def withoutRuntimeFilter[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    spark.conf.set(key, "false")
    try body finally spark.conf.unset(key)
  }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
