package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Changelog
import graft.sink.DocQueries

/** What every workload shares: the session, the recorder, the heap
  * sampler (a workload samples at the end of its untimed warm-up), its
  * inputs and a private work directory.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder,
    val heap: HeapPeak, val inputs: String, val work: String)

/** The measured interval: wall clock for the listener (ms since the
  * epoch) and the monotonic clock for spans.
  */
final case class Window(fromMs: Long, toMs: Long, fromNs: Long, toNs: Long) {
  def seconds: Double = (toNs - fromNs) / 1e9
}

object Window {
  def open(): (Long, Long) = (System.currentTimeMillis(), System.nanoTime())
  def close(start: (Long, Long)): Window =
    Window(start._1, System.currentTimeMillis(), start._2, System.nanoTime())
}

/** One workload. The bench calls `setup` on fresh directories
  * `setupReps` times (the last one is kept), then `measure` once, then
  * `check`.
  */
trait Workload {
  def setupReps: Int = 3
  def setup(dir: String): Unit
  def measure(): Window
  /** End-to-end values other than set-up time and heap. */
  def endToEnd(w: Window): Map[String, Double]
  /** Per-layer values only this workload can supply. */
  def layerExtras(w: Window): Map[String, Double]
  /** Compare the program's outputs with an independent oracle. */
  def check(): Boolean
}

object Workload {
  /** Row-multiset equality: no row on either side is missing from the
    * other, duplicates counted. Each side is computed once.
    */
  def sameRows(name: String, got: DataFrame, want: DataFrame): Boolean = {
    val g = got.select(want.columns.map(col).toSeq: _*).cache()
    val w = want.cache()
    try {
      val diff = g.exceptAll(w).withColumn("_side", lit("extra"))
        .unionByName(w.exceptAll(g).withColumn("_side", lit("missing")))
        .limit(10).collect()
      if (diff.nonEmpty)
        System.err.println(s"[perfbench] check $name failed: ${diff.mkString("; ")}")
      diff.isEmpty
    } finally { g.unpersist(); w.unpersist() }
  }

  /** The one-shot oracle: the last op per key over the whole changelog,
    * upserts only, keyed the way the document sink keys them.
    */
  def oracle(all: DataFrame, keyCol: String, order: Seq[Column]): DataFrame =
    Changelog.compact(Changelog.classify(all, "op"), keyCol, order)
      .filter(col("_action") === "upsert")
      .drop("_action", "op")
      .withColumn("_id", col(keyCol).cast("string"))

  def duBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  /** The document-index read set: a term filter, a key lookup and a
    * full count, each over the committed view.
    */
  def docReads(rec: Recorder, sink: TimedSink, hotKey: String): Unit = {
    rec.op("sink.read.term")(
      DocQueries.term(sink.searchable(), "category", "technology").count())
    rec.op("sink.read.key")(
      DocQueries.term(sink.searchable(), "_id", hotKey).collect())
    rec.op("sink.read.count")(sink.searchable().count())
  }
}
