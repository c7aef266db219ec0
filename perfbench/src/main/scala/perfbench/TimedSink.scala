package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.{ParquetIndexSink, VacuumReport, WriterEpoch}

/** The document index with its public entry points wrapped in spans.
  * Every call goes to the program's own implementation through `super`;
  * `commit` reaches `compactDeltas` by virtual dispatch, so a folding
  * commit shows a `sink.compact` child span. With tracing on it also
  * notes the delta-log depth each commit leaves behind.
  */
final class TimedSink(spark: SparkSession, val root: String, rec: Recorder)
    extends ParquetIndexSink(spark, root) {
  private val depths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  def meanDepth: Double = Stats.mean(depths.asScala.map(_.toDouble))

  override def commit(): Unit = {
    rec.span("sink.commit")(super.commit())
    if (rec.tracing) depths.add(committedDeltas.size)
  }
  override def compactDeltas(): Unit =
    rec.span("sink.compact")(super.compactDeltas())
  override def searchable(): DataFrame =
    rec.span("sink.searchable")(super.searchable())
  override def vacuum(keepVersions: Int, dryRun: Boolean,
      epoch: WriterEpoch): VacuumReport =
    rec.span("sink.vacuum")(super.vacuum(keepVersions, dryRun, epoch))
}
