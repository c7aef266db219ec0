package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.config.PipelineConfig
import graft.runtime.PipelineRunner

/** The reference's own job in catch-up mode: a backlog of 1,000-row
  * changelog files drains through `PipelineRunner.runStream` (parquet
  * file source, one file per trigger, no scan interval) into a growing
  * document index that starts from a 20k-doc snapshot.
  *
  * Files are staged into the source directory a few ahead of the
  * stream, with strictly increasing modification times (the file
  * source replays by mtime). The index folds its delta log on every
  * ninth commit (`maxDeltas = 8`). The generator writes whole fold
  * cycles of files; the first cycle warms the stream and is not timed,
  * the rest is the window, so every run sees the same mix of plain and
  * folding commits.
  */
final class CdcStream(c: Ctx) extends Workload {
  import c._

  private val FoldCycle = 9
  private val Ahead = 3
  private val order = Seq(col("snap"), col("seq"))
  private val basePath = s"$inputs/base.parquet"
  private val schema = spark.read.parquet(basePath).schema
  private var dir: String = _
  private var sink: TimedSink = _
  private var runner: PipelineRunner = _
  private var batches: Seq[StreamingQueryProgress] = Nil
  private var staged = 0
  private var docs0 = 0L

  def setup(d: String): Unit = {
    dir = d
    sink = new TimedSink(spark, s"$d/index", rec)
    new PipelineRunner(PipelineConfig("bench"), sink)
      .processBatch(spark.read.parquet(basePath), "op", "id", order): Unit
  }

  def measure(): Window = {
    val src = new File(s"$dir/source")
    src.mkdirs()
    val files = new File(s"$inputs/stream").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    runner = new PipelineRunner(
      PipelineConfig("bench", scanIntervalMs = 0L,
        checkpointLocation = s"$dir/checkpoint"), sink)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.getPath)
    val q = runner.runStream(stream, "op", "id", order)
    val mtime0 = System.currentTimeMillis() - 1000L * files.length
    def processed = runner.metrics.totalBatches.get
    // stage files a few ahead of the stream up to the n-th, then wait
    // until the stream has processed every staged file
    def drainTo(n: Int): Unit = {
      while (staged < n) {
        q.exception.foreach(e => throw e)
        if (staged - processed < Ahead) {
          val f = files(staged)
          f.setLastModified(mtime0 + 1000L * staged)
          Files.move(f.toPath, new File(src, f.getName).toPath,
            StandardCopyOption.ATOMIC_MOVE)
          staged += 1
        } else Thread.sleep(2)
      }
      q.processAllAvailable()
    }
    var start: (Long, Long) = null
    try {
      drainTo(FoldCycle)
      heap.sample()
      start = Window.open()
      docs0 = runner.metrics.totalDocs.get
      drainTo(files.length)
    } finally {
      rec.attempted.addAndGet(staged.toLong)
      if (q.exception.isDefined || processed < staged)
        rec.failed.incrementAndGet()
    }
    val w = Window.close(start)
    batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).drop(FoldCycle)
    q.stop()
    System.err.println("[perfbench] batch ms: " +
      batches.map(ms(_, "triggerExecution").toLong).mkString(" "))
    (1 to 5).foreach(_ => Workload.docReads(rec, sink, "7"))
    w
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def endToEnd(w: Window): Map[String, Double] = {
    val lat = batches.map(ms(_, "triggerExecution"))
    val reads = rec.prefixed("sink.read.", w.toNs, Long.MaxValue).map(_.ms)
    Map(
      "docs_per_s" -> (runner.metrics.totalDocs.get - docs0) / w.seconds,
      "batch_p50_ms" -> Stats.pct(lat, 0.5),
      "batch_p90_ms" -> Stats.pct(lat, 0.9),
      "read_p50_ms" -> Stats.pct(reads, 0.5),
      "read_p90_ms" -> Stats.pct(reads, 0.9),
      "disk_bytes_per_doc" -> Workload.duBytes(new File(s"$dir/index")) /
        sink.searchable().count().toDouble)
  }

  def layerExtras(w: Window): Map[String, Double] = {
    def med(keys: String*) = Stats.median(batches.map(p => keys.map(ms(p, _)).sum))
    val addBatch = batches.map(ms(_, "addBatch")).sum
    val trigger = batches.map(ms(_, "triggerExecution")).sum
    val commits = rec.named("sink.commit", w.fromNs, w.toNs)
    val rowsIn = batches.map(_.numInputRows.toDouble).sum
    val rowsOut = (runner.metrics.totalDocs.get - docs0).toDouble
    Map(
      "spark.stream.offsets_ms" -> med("latestOffset", "getBatch"),
      "spark.stream.plan_ms" -> med("queryPlanning"),
      "spark.stream.log_ms" -> med("walCommit", "commitOffsets"),
      // addBatch is the pipeline's foreachBatch body: the runtime batch
      "runtime.batch_ms" -> med("addBatch"),
      // the micro-batch body minus the sink commit it ran (i-th commit
      // of the window belongs to the i-th data batch)
      "runtime.self_ms" -> Stats.median(batches.map(ms(_, "addBatch"))
        .zip(commits.map(_.ms)).map { case (a, c) => a - c }),
      "runtime.batches" -> batches.size.toDouble,
      "cdc.rows_in" -> rowsIn,
      "cdc.rows_out" -> rowsOut,
      "sink.delta_depth" -> sink.meanDepth,
      "sink.index_bytes" -> Workload.duBytes(new File(s"$dir/index")).toDouble,
      "self.runtime_s" -> (addBatch - commits.map(_.ms).sum) / 1e3,
      "self.stream_s" -> (trigger - addBatch) / 1e3,
      "top_level_ms" -> trigger)
  }

  def check(): Boolean = {
    val all = spark.read.parquet(basePath)
      .unionByName(spark.read.schema(schema).parquet(s"$dir/source"))
    Workload.sameRows("cdc_stream index",
      sink.searchable(), Workload.oracle(all, "id", order))
  }
}
