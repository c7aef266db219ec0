package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.{JobExecutionStatus, ListenerBusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The object-store-safety contract of the shared commit protocol: a
  * numeric delta directory WITHOUT the [[DeltaLog.CommitMarker]] sentinel
  * is exactly what a reader sees mid-copy on S3A (where "rename" is a
  * non-atomic copy+delete) or after a writer crash between the rename and
  * the seal — every store's read path must skip it, and no writer may
  * reuse its sequence number.
  */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Plant an UNSEALED numeric commit dir (torn copy / crashed writer):
    * a directory with plausible content but no marker.
    */
  private def plantTorn(root: String, seq: Int): Unit = {
    val f = DeltaLog.fs(spark, root)
    f.mkdirs(new Path(s"$root/$seq/docs"))
    val out = f.create(new Path(s"$root/$seq/docs/part-00000.parquet"), true)
    out.write(Array[Byte](0x50, 0x41, 0x52, 0x31)) // truncated parquet
    out.close()
  }

  private def docs = Seq(
    (1L, "alpha beta gamma delta shared tokens one"),
    (2L, "alpha beta gamma delta shared tokens two"),
    (3L, "unrelated text about physical query plans"))
    .toDF("doc_id", "text")

  test("commit seals with the marker LAST; listSeqs admits only sealed dirs") {
    val root = tmpDir("dlog") + "/commits"
    val f = DeltaLog.fs(spark, root)
    val seq = DeltaLog.commit(spark, root, DeltaLog.nextSeq(spark, root),
      "payload", fenceDomain = root) { tmp =>
        f.mkdirs(new Path(s"$tmp/payload"))
        f.create(new Path(s"$tmp/payload/data"), true).close()
      }
    assert(seq == 1)
    assert(f.exists(new Path(s"$root/1/${DeltaLog.CommitMarker}")))
    assert(DeltaLog.listSeqs(spark, root) == Seq(1))
    // a torn dir is invisible to readers but blocks its seq for writers
    plantTorn(root, 7)
    assert(DeltaLog.listSeqs(spark, root) == Seq(1))
    assert(DeltaLog.nextSeq(spark, root) == 8)
  }

  test("versioned base: torn installs invisible, GC") {
    val dir = tmpDir("dlog-base")
    val f = DeltaLog.fs(spark, dir)
    def mkData(path: String, tag: String): Unit = {
      f.mkdirs(new Path(path))
      f.create(new Path(s"$path/$tag"), true).close()
    }
    // a TORN install (data, no marker — the mid-copy / crashed-compact
    // state) is never resolved: with no sealed generation there is no base
    mkData(s"$dir/cells-v1", "torn")
    intercept[java.io.FileNotFoundException](
      DeltaLog.currentBase(spark, dir, "cells"))
    // a sealed install becomes current; its number skipped the torn v1,
    // which it GCs (no reader ever resolved it)
    val p2 = DeltaLog.installBase(spark, dir, "cells", fenceDomain = dir)(mkData(_, "gen2"))
    assert(p2 == s"$dir/cells-v2")
    assert(DeltaLog.currentBase(spark, dir, "cells") == s"$dir/cells-v2")
    assert(!f.exists(new Path(s"$dir/cells-v1")))
    val p3 = DeltaLog.installBase(spark, dir, "cells", fenceDomain = dir)(mkData(_, "gen3"))
    assert(p3 == s"$dir/cells-v3")
    assert(DeltaLog.currentBase(spark, dir, "cells") == s"$dir/cells-v3")
    // sealed v2 is kept for in-flight readers until the install after
    assert(f.exists(new Path(s"$dir/cells-v2")))
    // a torn install above the current generation does not shadow it
    mkData(s"$dir/cells-v4", "torn")
    assert(DeltaLog.currentBase(spark, dir, "cells") == s"$dir/cells-v3")
    val p5 = DeltaLog.installBase(spark, dir, "cells", fenceDomain = dir)(mkData(_, "gen5"))
    assert(p5 == s"$dir/cells-v5")
    assert(!f.exists(new Path(s"$dir/cells-v2")))
    assert(!f.exists(new Path(s"$dir/cells-v4")))
    assert(f.exists(new Path(s"$dir/cells-v3")))
  }

  test("compaction through the versioned base keeps stores readable") {
    // SignatureStore: write → append → compact → probe unchanged; the
    // base is now a sealed -v directory, no bare dir, no .next strays
    val dir = tmpDir("dlog-compact")
    SignatureStore.write(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", dir, nPb = 8)
    SignatureStore.append(docs.filter(col("doc_id") === 3), dir)
    val batch = Seq((9L, "alpha beta gamma delta shared tokens nine"))
      .toDF("doc_id", "text")
    val before = SignatureStore.probe(batch, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    SignatureStore.compact(spark, dir)
    val after = SignatureStore.probe(batch, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(after == before && before.nonEmpty)
    val f = DeltaLog.fs(spark, dir)
    assert(f.exists(new Path(
      s"${DeltaLog.currentBase(spark, dir, "buckets")}/${DeltaLog.CommitMarker}")))
    assert(!f.exists(new Path(s"$dir/.buckets-next")))
    // a torn compact generation planted AFTER the real one is invisible
    val cur = DeltaLog.currentBase(spark, dir, "buckets")
    val v = cur.split("-v").last.toInt
    f.mkdirs(new Path(s"$dir/buckets-v${v + 1}/pb=0"))
    assert(SignatureStore.probe(batch, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == before)
  }

  test("IncrementalPostings readers skip a torn (marker-less) delta") {
    val dir = tmpDir("dlog-post")
    IncrementalPostings.init(docs, "doc_id", "text", dir)
    IncrementalPostings.commitUpserts(
      Seq((4L, "late arriving doc alpha")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val before = IncrementalPostings.currentPostings(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    plantTorn(s"$dir/deltas", 777)
    val after = IncrementalPostings.currentPostings(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
    // the torn number is burned, never reused
    val next = IncrementalPostings.commitUpserts(
      Seq((5L, "another doc beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(next == 778)
  }

  test("SignatureStore probes skip a torn commit") {
    val dir = tmpDir("dlog-sig")
    SignatureStore.write(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", dir, nPb = 8)
    val batch = docs.filter(col("doc_id") === 3)
    val before = SignatureStore.probe(batch, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    plantTorn(s"$dir/commits", 777)
    val after = SignatureStore.probe(batch, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(after == before)
    assert(SignatureStore.append(batch, dir) == 778)
  }

  test("VectorIndex searches skip a torn commit") {
    val dir = tmpDir("dlog-vec")
    val e = Seq.tabulate(40)(i =>
        (i.toLong, Array.tabulate(4)(d => (i * (d + 1) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    VectorIndex.write(e, "vec_id", "embedding", dir, k = 2, iters = 2)
    val q = Array(1f, 2f, 3f, 4f)
    val before = VectorIndex.search(spark, dir, "vec_id", "embedding",
      q, topK = 5, nProbe = 2).as[(Long, Double)].collect().toSeq
    plantTorn(s"$dir/commits", 777)
    val after = VectorIndex.search(spark, dir, "vec_id", "embedding",
      q, topK = 5, nProbe = 2).as[(Long, Double)].collect().toSeq
    assert(after == before)
    VectorIndex.append(e.limit(1).withColumn("vec_id", lit(999L)),
      "vec_id", "embedding", dir)
    assert(DeltaLog.listSeqs(spark, s"$dir/commits").contains(778))
  }

  test("GeoIndex searches skip a torn commit") {
    val dir = tmpDir("dlog-geo")
    GeoIndex.write(Seq((1L, 40.0, -74.0), (2L, 40.1, -74.1),
        (3L, -33.9, 151.2)).toDF("pid", "lat", "lon"),
      "pid", "lat", "lon", dir)
    val before = GeoIndex.knnSearch(spark, dir, 40.05, -74.05, 2)
      .collect().map(_.toString).sorted.toSeq
    plantTorn(s"$dir/commits", 777)
    val after = GeoIndex.knnSearch(spark, dir, 40.05, -74.05, 2)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
    assert(GeoIndex.upsert(Seq((9L, 10.0, 10.0)).toDF("pid", "lat", "lon"),
      "pid", "lat", "lon", dir) == 778)
  }

  test("base retention: keepGenerations=2 covers a reader spanning two installs") {
    val dir = tmpDir("dlog-keep")
    val f = DeltaLog.fs(spark, dir)
    def mkData(path: String, tag: String): Unit = {
      f.mkdirs(new Path(path))
      f.create(new Path(s"$path/$tag"), true).close()
    }
    val p1 = DeltaLog.installBase(spark, dir, "b", 2, fenceDomain = dir)(mkData(_, "g1"))
    val p2 = DeltaLog.installBase(spark, dir, "b", 2, fenceDomain = dir)(mkData(_, "g2"))
    // a reader pinned at p1 (two installs ago after this) must still
    // see a complete directory: retention 2 keeps p1 AND p2
    val p3 = DeltaLog.installBase(spark, dir, "b", 2, fenceDomain = dir)(mkData(_, "g3"))
    assert(DeltaLog.currentBase(spark, dir, "b") == p3)
    Seq(p1 -> "g1", p2 -> "g2", p3 -> "g3").foreach { case (p, t) =>
      assert(f.exists(new Path(s"$p/$t")), s"$p lost its payload")
      assert(f.exists(new Path(s"$p/${DeltaLog.CommitMarker}")))
    }
    // the fourth install finally GCs p1, still keeping p2 and p3
    val p4 = DeltaLog.installBase(spark, dir, "b", 2, fenceDomain = dir)(mkData(_, "g4"))
    assert(!f.exists(new Path(p1)))
    assert(f.exists(new Path(s"$p2/g2")) && f.exists(new Path(s"$p3/g3")))
    assert(DeltaLog.currentBase(spark, dir, "b") == p4)
  }

  test("StatsStore reads a legacy base lacking the qtiles column") {
    val dir = tmpDir("dlog-stats-legacy")
    StatsStore.init(Seq(1.0, 2.0, 3.0).toDF("x"), Seq("x"), dir)
    // rewrite the base WITHOUT qtiles — the pre-qtiles on-disk layout,
    // installed as a newer sealed generation so it is what reads resolve
    val legacy = spark.read
      .parquet(DeltaLog.currentBase(spark, dir, "base"))
      .drop("qtiles").collect()
    val legacySchema = spark.read
      .parquet(DeltaLog.currentBase(spark, dir, "base"))
      .drop("qtiles").schema
    DeltaLog.installBase(spark, dir, "base", fenceDomain = dir) { tmp =>
      spark.createDataFrame(spark.sparkContext.parallelize(legacy.toSeq, 1),
        legacySchema).write.mode("overwrite").parquet(tmp)
    }: Unit
    // a post-upgrade append carries qtiles; profile, quantiles and
    // compact must all fold the mixed schemas instead of throwing
    StatsStore.append(Seq(4.0, 5.0).toDF("x"), dir)
    val prof = StatsStore.profile(spark, dir).collect()
    assert(prof.length == 1 && prof.head.getAs[Long]("n_nonnull") == 5L)
    val qs = StatsStore.quantiles(spark, dir, Seq(0.5)).collect()
    // only the qtiles-bearing commit (4.0, 5.0) contributes points
    assert(qs.length == 1 && qs.head.getSeq[Double](2).head >= 4.0)
    StatsStore.compact(spark, dir)
    val prof2 = StatsStore.profile(spark, dir).collect()
    assert(prof2.head.getAs[Long]("n_nonnull") == 5L)
  }

  test("StatsStore profiles skip a torn commit") {
    val dir = tmpDir("dlog-stats")
    StatsStore.init(Seq("x", "y").toDF("v"), Seq("v"), dir)
    StatsStore.append(Seq("z").toDF("v"), dir)
    val before = StatsStore.profile(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    plantTorn(s"$dir/commits", 777)
    val after = StatsStore.profile(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
    assert(StatsStore.append(Seq("w").toDF("v"), dir) == 778)
  }

  test("interrupting inParallel's caller leaves no leg job running") {
    val sc = spark.sparkContext
    val st = sc.statusTracker
    val legTags = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(","))
          .filter(_.startsWith(DeltaLog.LegTagPrefix))
        tags.foreach(legTags.add)
        if (tags.nonEmpty) started.countDown()
      }
    }
    def active(job: Int): Boolean = st.getJobInfo(job).exists { j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0))
    }
    // four tasks of two one-second rows each: the write is still running
    // when the caller is interrupted
    val slow = udf { (i: Long) => Thread.sleep(1000); i }
    val out = tmpDir("dlog-interrupt")
    @volatile var surfaced: Throwable = null
    @volatile var reinterrupted = false
    @volatile var stillActive: Seq[Int] = Nil
    val caller = new Thread(() =>
      try DeltaLog.inParallel(spark)(
        () => spark.range(0, 8, 1, 4).select(slow(col("id")).as("id"))
          .write.mode("overwrite").parquet(s"$out/slow"),
        () => ())
      catch {
        case e: Throwable =>
          reinterrupted = Thread.interrupted()
          ListenerBusDrain(sc)
          stillActive = legTags.asScala.toSeq
            .flatMap(t => st.getJobIdsForTag(t).toSeq).filter(active)
          surfaced = e
      })
    sc.addSparkListener(listener)
    try {
      caller.start()
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(300)
      caller.interrupt()
      caller.join(120000)
    } finally sc.removeSparkListener(listener)
    assert(!caller.isAlive)
    assert(surfaced.isInstanceOf[InterruptedException], String.valueOf(surfaced))
    assert(reinterrupted, "the caller's interrupt status must be restored")
    assert(legTags.size == 1)
    assert(stillActive.isEmpty, s"leg jobs still active: $stillActive")
  }
}
