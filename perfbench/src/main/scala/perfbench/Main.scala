package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its result as JSON:
  * `{"correct": .., "attempted": .., "failed": .., "metrics": {name: value}}`.
  * With `--trace 0` the metrics are the end-to-end ones; with
  * `--trace 1` the job listener and spans are on and the metrics are
  * the per-layer ones.
  *
  * Usage: `perfbench.Main <workload> <trace 0|1> <cpus> <inputs dir>
  * <work dir> <result file>`. The inputs fix the amount of work.
  */
object Main {
  def main(args: Array[String]): Unit =
    try { run(args); System.exit(0) }
    catch {
      case e: Throwable =>
        e.printStackTrace()
        // a live streaming query or pool thread must not keep the JVM up
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(workload, trace, cpus, inputs, work, out) = args
    val tracing = trace == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    def phase(name: String) = System.err.println(f"[perfbench] $sinceStart%.1fs $name")
    val sessionS = sinceStart
    val listener = new JobListener
    if (tracing) spark.sparkContext.addSparkListener(listener)
    val rec = new Recorder(spark.sparkContext, tracing)
    val heap = new HeapPeak
    val ctx = new Ctx(spark, rec, heap, inputs, work)
    val wl: Workload = workload match {
      case "cdc_stream" => new CdcStream(ctx)
      case "owned_stores" => new OwnedStores(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    phase("session ready")
    val setups = (1 to wl.setupReps).map { i =>
      val t0 = System.nanoTime()
      wl.setup(s"$work/run-$i")
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup done")
    heap.sample()
    val w = wl.measure()
    phase("measure done")
    heap.sample()
    val e2e = wl.endToEnd(w) ++ Map(
      "setup_s" -> (sessionS + Stats.median(setups)),
      "heap_peak_mb" -> heap.mb)
    val metrics =
      if (!tracing) e2e
      else {
        PerfbenchBus.drain(spark.sparkContext)
        Layers(rec, listener, w, wl.layerExtras(w)) ++
          Seq("docs_per_s", "batch_p50_ms", "read_p50_ms")
            .map(k => s"trace.$k" -> e2e(k))
      }
    phase("metrics done")
    val correct = wl.check()
    phase("check done")
    val json = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    }.mkString(", ")
    val pw = new PrintWriter(new File(out))
    try pw.println(s"""{"correct": $correct, "attempted": ${rec.attempted.get}, """ +
      s""""failed": ${rec.failed.get}, "setup_runs_s": [${setups.mkString(", ")}], """ +
      s""""metrics": {$json}}""")
    finally pw.close()
    spark.stop()
  }
}
