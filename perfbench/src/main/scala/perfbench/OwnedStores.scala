package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.functions.GeoFunctions
import graft.runtime.PipelineRunner
import graft.sink.{GeoIndex, IncrementalPostings, SignatureStore, Stores, StatsStore, VectorIndex}

/** A pipeline that owns the document index and all five persisted
  * stores. Each round sends one small doc batch (new ids, updates of
  * live ids, a few deletes) through `processBatch` into the index and
  * into every store, then runs a fixed read set (one index term query,
  * one search per store) and `runner.maintain()`.
  *
  * The first generated round is the first time this JVM runs the
  * stores' commit and read paths; it warms them and is not timed. The
  * window runs every later round. Maintenance runs at
  * `storeMaxDeltas = 16`, above the commits all rounds leave pending,
  * and the rounds touch under a fifth of the corpus, so it checks every
  * store's fold policy and folds none (a fold of all four stores took
  * about 10 s, which did not fit the benchmark's time budget).
  */
final class OwnedStores(c: Ctx) extends Workload {
  import c._

  private val order = Seq(col("round"), col("seq"))
  private val statCols = Seq("doc_id", "rating", "category")
  private val basePath = s"$inputs/base.parquet"
  private val roundFiles = new File(s"$inputs/rounds").listFiles()
    .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
  private val words = {
    val m = scala.io.Source.fromFile(s"$inputs/meta.json")
    try "\"vocabulary\": \\[([^\\]]*)\\]".r.findFirstMatchIn(m.mkString).get
      .group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    finally m.close()
  }
  private var dir: String = _
  private var sink: TimedSink = _
  private var runner: PipelineRunner = _
  private var docs = 0L
  private val pending = collection.mutable.ArrayBuffer.empty[Double]
  private var compactions = 0

  /** Once: the first build of six stores in a JVM takes 15–25 s on four
    * cores, and a second one does not fit the benchmark's time budget.
    */
  override def setupReps: Int = 1

  private def storeDir(kind: String) = s"$dir/$kind"
  private def kinds = Stores.Kinds

  def setup(d: String): Unit = {
    dir = d
    sink = new TimedSink(spark, s"$d/index", rec)
    runner = new PipelineRunner(PipelineConfig("bench", storeMaxDeltas = 16),
      sink, stores = kinds.map(k => k -> storeDir(k)))
    val base = spark.read.parquet(basePath)
    runner.processBatch(base, "op", "doc_id", order): Unit
    IncrementalPostings.init(base.select("doc_id", "text"), "doc_id", "text",
      storeDir("postings"))
    VectorIndex.write(base.select("doc_id", "embedding"), "doc_id",
      "embedding", storeDir("vector"), k = 8): Unit
    GeoIndex.write(base.select("doc_id", "lat", "lon"), "doc_id", "lat",
      "lon", storeDir("geo"), cellDeg = 15.0)
    SignatureStore.write(base.select("doc_id", "text"), "doc_id", "text",
      storeDir("signature"))
    StatsStore.init(base.select(statCols.map(col): _*), statCols,
      storeDir("stats"))
  }

  /** The write operations of a round, in order: the document index,
    * then an upsert and a delete commit per store (the stats store only
    * takes upserts). Each gets the round's changelog `b`, its upserts
    * `u` and its deleted ids `d`.
    */
  private val writes: Seq[(String, (DataFrame, DataFrame, DataFrame) => Any)] = Seq(
    "runtime.batch" -> ((b, _, _) =>
      runner.processBatch(b, "op", "doc_id", order)),
    "stores.postings.upsert" -> ((_, u, _) => IncrementalPostings.commitUpserts(
      u.select("doc_id", "text"), "doc_id", "text", storeDir("postings"))),
    "stores.postings.delete" -> ((_, _, d) => IncrementalPostings.commitDeletes(
      d, "doc_id", storeDir("postings"))),
    "stores.vector.upsert" -> ((_, u, _) => VectorIndex.upsert(
      u.select("doc_id", "embedding"), "doc_id", "embedding", storeDir("vector"))),
    "stores.vector.delete" -> ((_, _, d) => VectorIndex.delete(
      d, "doc_id", storeDir("vector"))),
    "stores.geo.upsert" -> ((_, u, _) => GeoIndex.upsert(
      u.select("doc_id", "lat", "lon"), "doc_id", "lat", "lon", storeDir("geo"))),
    "stores.geo.delete" -> ((_, _, d) => GeoIndex.delete(
      d, "doc_id", storeDir("geo"))),
    "stores.signature.upsert" -> ((_, u, _) => SignatureStore.append(
      u.select("doc_id", "text"), storeDir("signature"))),
    "stores.signature.delete" -> ((_, _, d) => SignatureStore.delete(
      d, "doc_id", storeDir("signature"))),
    "stores.stats.upsert" -> ((_, u, _) => StatsStore.append(
      u.select(statCols.map(col): _*), storeDir("stats"))))

  private def round(r: Int): Unit = {
    val b = spark.read.parquet(roundFiles(r)).cache()
    try {
      val ups = b.filter(col("op").isin("+I", "+U"))
      val dels = b.filter(col("op") === "-D").select("doc_id")
      rec.span("round.write") {
        writes.foreach { case (name, body) => rec.op(name)(body(b, ups, dels)) }
      }
      val q = s"${words(r % words.size)} ${words((r * 7 + 3) % words.size)}"
      val qv = Seq.tabulate(8)(j => math.sin(r + j).toFloat)
      val (lat, lon) = ((r * 37 % 160) - 80.0, (r * 91 % 340) - 170.0)
      // the timed rounds run the read set twice, for more read samples
      for (_ <- 1 to (if (r == 0) 1 else 2)) rec.span("round.reads") {
        rec.op("sink.read.term")(graft.sink.DocQueries.term(
          sink.searchable(), "category", "technology").count())
        rec.op("stores.postings.read")(IncrementalPostings.bm25Search(spark,
          storeDir("postings"), q, 10).collect())
        rec.op("stores.vector.read")(VectorIndex.search(spark,
          storeDir("vector"), "doc_id", "embedding", qv, 10, 2).collect())
        rec.op("stores.geo.read")(GeoIndex.radiusSearch(spark, storeDir("geo"),
          lat, lon, 1500.0).collect())
        rec.op("stores.signature.read")(SignatureStore.probe(
          ups.select("doc_id", "text").limit(5), storeDir("signature")).count())
        rec.op("stores.stats.read")(StatsStore.profile(spark,
          storeDir("stats")).collect())
      }
      // pending depth per store, before and after maintenance (traced
      // runs only: each probe is a listing the untraced run must not pay)
      def depths = kinds.map(k => Stores.pendingCommits(spark, k, storeDir(k)))
      val before = if (rec.tracing) depths else Nil
      rec.op("stores.maintain")(runner.maintain())
      if (rec.tracing) {
        pending += before.sum.toDouble / before.size
        compactions += before.zip(depths).count { case (pre, post) => post < pre }
      }
    } finally b.unpersist()
  }

  def measure(): Window = {
    round(0)
    heap.sample()
    val start = Window.open()
    val docs0 = runner.metrics.totalDocs.get
    roundFiles.indices.drop(1).foreach(round)
    docs = runner.metrics.totalDocs.get - docs0
    Window.close(start)
  }

  private def storesBytes: Long =
    (kinds.map(storeDir) :+ s"$dir/index")
      .map(p => Workload.duBytes(new File(p))).sum

  def endToEnd(w: Window): Map[String, Double] = {
    val lat = rec.named("round.write", w.fromNs, w.toNs).map(_.ms)
    // every read is one sample: twelve reads per timed round
    val readSets = rec.named("round.reads", w.fromNs, w.toNs).map(_.id).toSet
    val reads = rec.all.filter(s => readSets(s.parent)).map(_.ms)
    Map(
      "docs_per_s" -> docs / w.seconds,
      "batch_p50_ms" -> Stats.pct(lat, 0.5),
      "batch_p90_ms" -> Stats.pct(lat, 0.9),
      "read_p50_ms" -> Stats.pct(reads, 0.5),
      "read_p90_ms" -> Stats.pct(reads, 0.9),
      "disk_bytes_per_doc" -> storesBytes / sink.searchable().count().toDouble)
  }

  def layerExtras(w: Window): Map[String, Double] = Map(
    "runtime.batches" -> (roundFiles.size - 1).toDouble,
    "cdc.rows_in" -> roundFiles.drop(1).map(spark.read.parquet(_).count()).sum.toDouble,
    "cdc.rows_out" -> docs.toDouble,
    "sink.delta_depth" -> sink.meanDepth,
    "sink.index_bytes" -> Workload.duBytes(new File(s"$dir/index")).toDouble,
    "stores.pending_depth" -> Stats.mean(pending),
    "stores.compactions" -> compactions.toDouble)

  def check(): Boolean = {
    val all = roundFiles.map(spark.read.parquet(_))
      .foldLeft(spark.read.parquet(basePath))(_.unionByName(_))
    val live = Workload.oracle(all, "doc_id", order).cache()
    // From-scratch twins where a store derives data (postings, norms,
    // signatures, sketches); the vector and geo live views must hold
    // exactly the final docs' vectors and points. The stats store
    // profiles every upsert it was sent, so its twin is built over all
    // of them, not the live set.
    val fresh = s"$dir/fresh"
    IncrementalPostings.init(live.select("doc_id", "text"), "doc_id", "text",
      s"$fresh/postings")
    SignatureStore.write(live.select("doc_id", "text"), "doc_id", "text",
      s"$fresh/signature")
    StatsStore.init(all.filter(col("op").isin("+I", "+U")).select(statCols.map(col): _*),
      statCols, s"$fresh/stats")
    def postings(d: String) = IncrementalPostings.currentPostings(spark, d)
    def norms(d: String) = IncrementalPostings.currentNorms(spark, d)
    // probe with the live docs under shifted ids: each one pairs with
    // its own stored signing (estimate 1.0 only if that is current), and
    // a stale or missing doc changes the pair set
    def sig(d: String) = SignatureStore.probe(
      live.select((-col("doc_id") - 1).as("doc_id"), col("text")), d)
    val checks = Seq(
      Workload.sameRows("document index", sink.searchable(), live),
      Workload.sameRows("postings", postings(storeDir("postings")),
        postings(s"$fresh/postings")),
      Workload.sameRows("postings norms", norms(storeDir("postings")),
        norms(s"$fresh/postings")),
      Workload.sameRows("vector", VectorIndex.cells(spark, storeDir("vector")),
        live.select("doc_id", "embedding")),
      Workload.sameRows("geo", GeoIndex.radiusSearch(spark, storeDir("geo"),
        0.0, 0.0, math.Pi * GeoFunctions.EarthRadiusKm),
        live.select("doc_id", "lat", "lon")),
      Workload.sameRows("signature", sig(storeDir("signature")),
        sig(s"$fresh/signature")),
      Workload.sameRows("stats", StatsStore.profile(spark, storeDir("stats")),
        StatsStore.profile(spark, s"$fresh/stats")))
    live.unpersist()
    checks.forall(identity)
  }
}
