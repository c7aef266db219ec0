package graft.sink

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.config.PipelineConfig
import graft.runtime.PipelineRunner

/** Layer budget of the stores' shared commit-log kit: how many Spark
  * jobs each store commit starts, and that threshold-gated maintenance
  * over empty logs is pure metadata. The upsert and delete budgets are
  * the counts the stores had before the kit existed; a change that
  * adds a job to a commit fails here.
  */
class StoreKitBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs `body` starts, counted by a listener on a job tag the body's
    * threads (and the commit legs' pool threads) inherit.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = s"budget-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  private def corpus(ids: Range): DataFrame = ids.map { i =>
    (i.toLong, s"alpha beta tok$i gamma w${i % 7}",
      Array.tabulate(4)(d => ((i * (d + 1)) % 11).toFloat),
      -60.0 + (i * 7) % 120, -170.0 + (i * 13) % 340, (i % 5).toDouble)
  }.toDF("doc_id", "text", "embedding", "lat", "lon", "rating")

  private def build(root: String): Map[String, String] = {
    val base = corpus(0 until 60)
    val dirs = Stores.Kinds.map(k => k -> s"$root/$k").toMap
    IncrementalPostings.init(base.select("doc_id", "text"), "doc_id", "text",
      dirs("postings"))
    VectorIndex.write(base.select("doc_id", "embedding"), "doc_id",
      "embedding", dirs("vector"), k = 3, iters = 2): Unit
    GeoIndex.write(base.select("doc_id", "lat", "lon"), "doc_id", "lat",
      "lon", dirs("geo"))
    SignatureStore.write(base.select("doc_id", "text"), "doc_id", "text",
      dirs("signature"), nPb = 4)
    StatsStore.init(base.select("doc_id", "rating"), Seq("doc_id", "rating"),
      dirs("stats"))
    dirs
  }

  test("maintain() over five stores with empty logs starts no Spark job") {
    val dirs = build(java.nio.file.Files.createTempDirectory("budget-m").toString)
    val runner = new PipelineRunner(PipelineConfig("budget"),
      new InMemoryIndexSink(spark, corpus(0 until 1).schema),
      stores = Stores.Kinds.map(k => k -> dirs(k)))
    assert(jobsOf(runner.maintain()) == 0)
  }

  test("each store's upsert and delete commit stays within its job budget") {
    val dirs = build(java.nio.file.Files.createTempDirectory("budget-c").toString)
    val ups = corpus(50 until 70)
    val dels = Seq(3L, 4L, 5L).toDF("doc_id")
    val counts = Map(
      "postings.upsert" -> jobsOf(IncrementalPostings.commitUpserts(
        ups.select("doc_id", "text"), "doc_id", "text", dirs("postings"))),
      "postings.delete" -> jobsOf(IncrementalPostings.commitDeletes(
        dels, "doc_id", dirs("postings"))),
      "vector.upsert" -> jobsOf(VectorIndex.upsert(
        ups.select("doc_id", "embedding"), "doc_id", "embedding", dirs("vector"))),
      "vector.delete" -> jobsOf(VectorIndex.delete(dels, "doc_id", dirs("vector"))),
      "geo.upsert" -> jobsOf(GeoIndex.upsert(
        ups.select("doc_id", "lat", "lon"), "doc_id", "lat", "lon", dirs("geo"))),
      "geo.delete" -> jobsOf(GeoIndex.delete(dels, "doc_id", dirs("geo"))),
      "signature.upsert" -> jobsOf(SignatureStore.append(
        ups.select("doc_id", "text"), dirs("signature"))),
      "signature.delete" -> jobsOf(SignatureStore.delete(
        dels, "doc_id", dirs("signature"))),
      "stats.upsert" -> jobsOf(StatsStore.append(
        ups.select("doc_id", "rating"), dirs("stats"))))
    val over = counts.filter { case (op, n) => n > Budget(op) }
    assert(over.isEmpty, s"over budget: $over (budget $Budget)")
  }

  // counted before the kit existed, on SparkSpec's local[4] session
  private val Budget = Map(
    "postings.upsert" -> 8, "postings.delete" -> 4,
    "vector.upsert" -> 5, "vector.delete" -> 4,
    "geo.upsert" -> 5, "geo.delete" -> 5,
    "signature.upsert" -> 5, "signature.delete" -> 3,
    "stats.upsert" -> 3)
}
