package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tools.Maintenance

/** The operator CLI's safety contract: read-only unless `--takeover`,
  * and the read-only path never touches the epoch ledger (so it can
  * never fence a live writer — the r14 verdict's zombie-maker hazard).
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("default run is read-only: nothing deleted, no epoch claimed, writer stays live") {
    val dir = java.nio.file.Files.createTempDirectory("maint-ro").toString
    val sink = new ParquetIndexSink(spark, dir, numBuckets = 4)
    sink.addDocuments(Seq(("a", "v1")).toDF("_id", "v")); sink.commit()
    sink.addDocuments(Seq(("b", "v2")).toDF("_id", "v")); sink.commit()
    val f = DeltaLog.fs(spark, dir)
    val ledger = new org.apache.hadoop.fs.Path(s"$dir/${DeltaLog.EpochDir}")
    val claims = f.listStatus(ledger).length
    Maintenance.run(spark, "sink", dir, keep = 1, takeover = false)
    assert(sink.history() == Seq(0L, 1L)) // nothing deleted
    assert(f.listStatus(ledger).length == claims) // no new claim
    sink.addDocuments(Seq(("c", "v3")).toDF("_id", "v"))
    sink.commit() // the live writer was not fenced by the tool
    assert(sink.searchable().count() == 3)
  }

  test("PipelineRunner.maintain vacuums under the writer's own epoch with the config retention") {
    val dir = java.nio.file.Files.createTempDirectory("maint-runner").toString
    val sink = new ParquetIndexSink(spark, dir, numBuckets = 4)
    val runner = new graft.runtime.PipelineRunner(
      graft.config.PipelineConfig(indexName = "m-idx", keepVersions = 2), sink)
    sink.addDocuments(Seq(("a", "v1")).toDF("_id", "v")); sink.commit()
    sink.addDocuments(Seq(("a", "v2")).toDF("_id", "v")); sink.commit()
    sink.addDocuments(Seq(("a", "v3")).toDF("_id", "v")); sink.commit()
    val r = runner.maintain()
    assert(r.exists(!_.dryRun))
    assert(sink.history() == Seq(1L, 2L)) // keepVersions=2 from config
    sink.addDocuments(Seq(("b", "b1")).toDF("_id", "v"))
    sink.commit() // the writer was not fenced by its own maintenance
    assert(sink.searchable().count() == 2)
    // sinks without a vacuum surface are a no-op
    val mem = new InMemoryIndexSink(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_id",
          org.apache.spark.sql.types.StringType))))
    val r2 = new graft.runtime.PipelineRunner(
      graft.config.PipelineConfig(indexName = "m2"), mem).maintain()
    assert(r2.isEmpty)
  }

  test("PipelineRunner.maintain compacts owned stores with config keepGenerations") {
    // the knob's full path: PipelineConfig.keepGenerations → maintain()
    // → Stores.compact → SignatureStore.compact → DeltaLog.installBase.
    // keep=2 must leave the two previous sealed generations on disk
    // (the reader lease); the default 1 would have GC'd buckets-v1 at
    // the second compaction.
    val sinkDir = java.nio.file.Files.createTempDirectory("maint-sink").toString
    val sigDir = java.nio.file.Files.createTempDirectory("maint-sig").toString
    val docs = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon tok$i zeta"))
      .toDF("doc_id", "text")
    SignatureStore.write(docs, "doc_id", "text", sigDir) // buckets-v1
    val sink = new ParquetIndexSink(spark, sinkDir, numBuckets = 4)
    val runner = new graft.runtime.PipelineRunner(
      graft.config.PipelineConfig(indexName = "m-stores",
        keepVersions = 1, keepGenerations = 2),
      sink, stores = Seq(("signature", sigDir)))
    val f = DeltaLog.fs(spark, sigDir)
    def gen(n: Int) = new org.apache.hadoop.fs.Path(s"$sigDir/buckets-v$n")
    sink.addDocuments(Seq(("a", "v1")).toDF("_id", "v")); sink.commit()

    SignatureStore.append(
      Seq((100L, "alpha beta gamma fresh one")).toDF("doc_id", "text"),
      sigDir): Unit
    // dryRun stays read-only: no compaction, the pending commit survives
    assert(runner.maintain(dryRun = true).exists(_.dryRun))
    assert(DeltaLog.listSeqs(spark, s"$sigDir/commits").nonEmpty)
    assert(!f.exists(gen(2)))

    runner.maintain() // buckets-v2, keep=2 → v1 survives
    assert(f.exists(gen(1)) && f.exists(gen(2)))
    SignatureStore.append(
      Seq((101L, "alpha beta gamma fresh two")).toDF("doc_id", "text"),
      sigDir): Unit
    runner.maintain() // buckets-v3, keep=2 → v1 AND v2 survive
    assert(f.exists(gen(1)) && f.exists(gen(2)) && f.exists(gen(3)))
    // the store still serves after pipeline maintenance, log folded
    assert(SignatureStore.stats(spark, sigDir)
      .head().getAs[Long]("n_pending_commits") == 0L)
    // an unknown kind is rejected at CONSTRUCTION, not first maintain
    val e = intercept[IllegalArgumentException](
      new graft.runtime.PipelineRunner(
        graft.config.PipelineConfig(indexName = "bad"), sink,
        stores = Seq(("nope", sigDir))))
    assert(e.getMessage.contains("unknown store kind"))
  }

  test("maintain() with an empty commit log burns no generation — back-to-back is a no-op") {
    // r16 verdict task 2: unconditional Stores.compact folded every
    // registered store into a fresh sealed generation on EVERY call —
    // one generation number and a full base rewrite per maintain(),
    // even with nothing pending. The threshold dispatch must make the
    // second of two back-to-back calls metadata-only.
    val sinkDir = java.nio.file.Files.createTempDirectory("maint-idem-sink").toString
    val sigDir = java.nio.file.Files.createTempDirectory("maint-idem-sig").toString
    val docs = (0 until 30).map(i => (i.toLong, s"alpha beta gamma tok$i"))
      .toDF("doc_id", "text")
    SignatureStore.write(docs, "doc_id", "text", sigDir)
    val sink = new ParquetIndexSink(spark, sinkDir, numBuckets = 2)
    val runner = new graft.runtime.PipelineRunner(
      graft.config.PipelineConfig(indexName = "m-idem"),
      sink, stores = Seq(("signature", sigDir)))
    val f = DeltaLog.fs(spark, sigDir)
    def gens(): Seq[String] = f.listStatus(
      new org.apache.hadoop.fs.Path(sigDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("buckets-v")).sorted

    SignatureStore.append(
      Seq((200L, "alpha beta gamma fresh")).toDF("doc_id", "text"), sigDir): Unit
    runner.maintain() // pending commit -> folds into a new generation
    val afterFirst = gens()
    assert(Stores.pendingCommits(spark, "signature", sigDir) == 0)

    // no intervening appends: the generation list must NOT move, and no
    // store-sized rewrite may run. "Near-instant" is asserted
    // STRUCTURALLY (the dispatcher reports no fold ran — a wall-clock
    // bound flakes under full-suite load): false from maybeCompact means
    // the only work was one commit-log metadata listing.
    runner.maintain()
    runner.maintain()
    assert(gens() == afterFirst,
      s"idle maintain() burned a generation: $afterFirst -> ${gens()}")
    assert(!Stores.maybeCompact(spark, "signature", sigDir, 0, 1),
      "an empty commit log must never fold")

    // the amortization knob: depth must EXCEED storeMaxDeltas to fold
    val amortized = new graft.runtime.PipelineRunner(
      graft.config.PipelineConfig(indexName = "m-amort", storeMaxDeltas = 2),
      sink, stores = Seq(("signature", sigDir)))
    SignatureStore.append(
      Seq((201L, "alpha beta fresh two")).toDF("doc_id", "text"), sigDir): Unit
    amortized.maintain() // 1 pending <= 2: no fold
    assert(Stores.pendingCommits(spark, "signature", sigDir) == 1)
    assert(gens() == afterFirst)
    SignatureStore.append(
      Seq((202L, "alpha beta fresh three")).toDF("doc_id", "text"), sigDir): Unit
    SignatureStore.append(
      Seq((203L, "alpha beta fresh four")).toDF("doc_id", "text"), sigDir): Unit
    // the fold is observed as a VERSION advance, not a count change —
    // keepGenerations=1 GC retires the oldest generation as the new one
    // installs, so the on-disk list stays the same SIZE
    def maxGen(): Int = gens().map(_.stripPrefix("buckets-v").toInt).max
    val beforeFold = maxGen()
    amortized.maintain() // 3 pending > 2: folds
    assert(Stores.pendingCommits(spark, "signature", sigDir) == 0)
    assert(maxGen() == beforeFold + 1,
      s"threshold crossed but no new generation installed (v$beforeFold)")
  }

  test("--takeover against a LIVE writer fences it; read-only paths never perturb the epoch") {
    // The runbook's forbidden shape, exercised end-to-end: a second JVM
    // (simulated by clearing this JVM's cached session claim — the next
    // resolve acquires a FRESH epoch, exactly what a new tool process
    // does) runs `--takeover` against a store whose writer is still
    // live. The live writer is represented by its captured WriterEpoch:
    // its next mutation under that stale claim must die with
    // FencedWriterException carrying the runbook pointer.
    val dir = java.nio.file.Files.createTempDirectory("maint-adv").toString
    val sink = new ParquetIndexSink(spark, dir, numBuckets = 4)
    sink.addDocuments(Seq(("a", "v1")).toDF("_id", "v")); sink.commit()
    val writer = DeltaLog.resolveEpoch(spark, dir, null) // the live claim
    val f = DeltaLog.fs(spark, dir)
    val ledger = new org.apache.hadoop.fs.Path(s"$dir/${DeltaLog.EpochDir}")
    def claims = f.listStatus(ledger).map(_.getPath.getName).toSet

    // 1. read-only paths from a second JVM: dry-run vacuum (sink) —
    // the ledger is untouched and the live writer keeps committing
    val before = claims
    DeltaLog.clearSessionEpoch(dir) // "new process" from here on
    Maintenance.run(spark, "sink", dir, keep = 1, takeover = false)
    assert(claims == before, "read-only maintenance touched the ledger")
    sink.addDocuments(Seq(("b", "v2")).toDF("_id", "v"))
    sink.commit() // writer's own (cached-by-map? no — re-resolves) ...
    // NOTE: commit() re-resolved a session epoch because the map was
    // cleared; that claim belongs to this JVM either way. Re-capture
    // the writer's live claim for the adversarial step below.
    val writer2 = DeltaLog.resolveEpoch(spark, dir, null)

    // 2. the adversarial step: --takeover while the writer is live
    DeltaLog.clearSessionEpoch(dir) // the tool is its own process
    Maintenance.run(spark, "sink", dir, keep = 1, takeover = true)
    // the tool now owns the store; the old writer's next mutation —
    // any mutation under its stale claim — dies with the runbook error
    val e = intercept[FencedWriterException](
      sink.vacuum(keepVersions = 1, epoch = writer2))
    assert(e.getMessage.contains("Operating the fenced stores"),
      s"fence error must point at the runbook, got: ${e.getMessage}")
    assert(e.getMessage.contains("a newer writer owns"))
    // the ORIGINAL pre-restart claim is equally dead
    intercept[FencedWriterException](DeltaLog.checkFence(spark, writer))

    // 3. same shape for an incremental store: stats (read-only) never
    // perturbs, --takeover fences the store's live writer
    val sdir = java.nio.file.Files.createTempDirectory("maint-adv-sig").toString
    SignatureStore.write(
      (0 until 20).map(i => (i.toLong, s"alpha beta gamma tok$i"))
        .toDF("doc_id", "text"),
      "doc_id", "text", sdir)
    SignatureStore.append(
      Seq((50L, "alpha beta gamma extra")).toDF("doc_id", "text"), sdir): Unit
    val sigWriter = DeltaLog.resolveEpoch(spark, sdir, null)
    val sledger = new org.apache.hadoop.fs.Path(s"$sdir/${DeltaLog.EpochDir}")
    val sBefore = f.listStatus(sledger).map(_.getPath.getName).toSet
    DeltaLog.clearSessionEpoch(sdir)
    Maintenance.run(spark, "signature", sdir, keep = 1, takeover = false)
    assert(f.listStatus(sledger).map(_.getPath.getName).toSet == sBefore,
      "store stats touched the ledger")
    DeltaLog.checkFence(spark, sigWriter) // still the owner
    Maintenance.run(spark, "signature", sdir, keep = 1, takeover = true)
    // give the stale writer's compact a pending commit to fold (the
    // takeover folded the log; an empty log early-returns before the
    // fence) — the append runs under this JVM's current session claim,
    // standing in for work the NEW owner did after the takeover
    SignatureStore.append(
      Seq((51L, "alpha beta gamma more")).toDF("doc_id", "text"), sdir): Unit
    val e2 = intercept[FencedWriterException](
      SignatureStore.compact(spark, sdir, epoch = sigWriter))
    assert(e2.getMessage.contains("Operating the fenced stores"))
  }

  test("--takeover vacuums; unknown kinds are refused loudly") {
    val dir = java.nio.file.Files.createTempDirectory("maint-rw").toString
    val sink = new ParquetIndexSink(spark, dir, numBuckets = 4)
    sink.addDocuments(Seq(("a", "v1")).toDF("_id", "v")); sink.commit()
    sink.addDocuments(Seq(("a", "v2")).toDF("_id", "v")); sink.commit()
    Maintenance.run(spark, "sink", dir, keep = 1, takeover = true)
    assert(sink.history() == Seq(1L)) // pruned to the lease
    assert(sink.searchable().select("v").as[String].head() == "v2")
    val e = intercept[IllegalArgumentException](
      Maintenance.run(spark, "nope", dir, 1, takeover = false))
    assert(e.getMessage.contains("unknown store kind"))
  }
}
