package graft.sink

import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Property check for the shared commit protocol under RANDOM
  * interleavings of commits, crashes and compactions — the generalized
  * form of [[DeltaLogSpec]]'s planted single faults. Every schedule must
  * keep the two reader invariants that all five persisted stores lean
  * on:
  *
  *   1. `listSeqs` returns EXACTLY the successfully sealed commits, in
  *      order, each with its full payload on disk — a crash before the
  *      seal (torn object-store copy) or before the rename leaves
  *      nothing visible and burns no reader;
  *   2. `currentBase` resolves the LAST successfully installed
  *      generation, complete and sealed — a crashed install never
  *      shadows it — and the previous `keepGenerations` installed
  *      generations stay complete on disk for in-flight readers.
  */
class DeltaLogCrashPropertySpec extends SparkSpec {

  private sealed trait Op
  private case object Commit extends Op
  private case object CrashBeforeSeal extends Op // renamed, never sealed
  private case object CrashBeforeRename extends Op // `.tmp-*` left behind
  private case object Install extends Op
  private case object CrashMidInstall extends Op // partial gen, no marker
  private case object Read extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    (4, Gen.const(Commit)), (2, Gen.const(CrashBeforeSeal)),
    (1, Gen.const(CrashBeforeRename)), (3, Gen.const(Install)),
    (2, Gen.const(CrashMidInstall)), (4, Gen.const(Read)))

  private val Keep = 2

  private def runSchedule(ops: List[Op]): Boolean = {
    val dir = java.nio.file.Files.createTempDirectory("dlog-prop").toString
    val root = s"$dir/commits"
    val f = DeltaLog.fs(spark, dir)
    var committed = Vector.empty[Int]
    var installed = Vector.empty[(String, String)] // (path, payload tag)

    def payload(path: String, tag: String): Unit = {
      f.mkdirs(new Path(s"$path/docs"))
      f.create(new Path(s"$path/docs/$tag"), true).close()
    }
    def nextGen(): Int = {
      val pat = "base-v(\\d+)".r
      val ns = f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
        .collect { case pat(n) => n.toInt }
      (ns :+ 0).max + 1
    }
    def check(): Boolean = {
      val seqs = DeltaLog.listSeqs(spark, root)
      val listOk = seqs == committed && seqs.forall { s =>
        f.exists(new Path(s"$root/$s/docs/c$s")) &&
          f.exists(new Path(s"$root/$s/${DeltaLog.CommitMarker}"))
      }
      val cur = scala.util.Try(DeltaLog.currentBase(spark, dir, "base"))
      val baseOk =
        if (installed.isEmpty) cur.isFailure // no sealed generation yet
        else cur.get == installed.last._1 &&
          f.exists(new Path(s"${cur.get}/${DeltaLog.CommitMarker}")) &&
          f.exists(new Path(s"${cur.get}/docs/${installed.last._2}"))
      // a reader pinned up to Keep installs ago still has its base
      val pinnedOk = installed.dropRight(1).takeRight(Keep).forall {
        case (p, t) =>
          f.exists(new Path(s"$p/${DeltaLog.CommitMarker}")) &&
            f.exists(new Path(s"$p/docs/$t"))
      }
      listOk && baseOk && pinnedOk
    }

    ops.forall { op =>
      op match {
        case Commit =>
          val seq = DeltaLog.nextSeq(spark, root)
          DeltaLog.commit(spark, root, seq, "docs", fenceDomain = root)(payload(_, s"c$seq")): Unit
          committed :+= seq
        case CrashBeforeSeal =>
          payload(s"$root/${DeltaLog.nextSeq(spark, root)}", "crashed")
        case CrashBeforeRename =>
          payload(s"$root/.tmp-${DeltaLog.nextSeq(spark, root)}", "crashed")
        case Install =>
          val tag = s"g${installed.size + 1}"
          val p = DeltaLog.installBase(spark, dir, "base", Keep, fenceDomain = dir)(
            payload(_, tag))
          installed = installed :+ (p -> tag)
        case CrashMidInstall =>
          payload(s"$dir/base-v${nextGen()}", "torn")
        case Read => ()
      }
      op != Read || check()
    } && check()
  }

  test("random crash/GC schedules always resolve complete sealed views") {
    val prop = Prop.forAll(Gen.listOfN(14, opGen))(ops => runSchedule(ops))
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, result.status.toString)
  }

  test("mixed roots: listSeqs returns exactly the sealed dirs") {
    // random on-disk states: every numeric dir complete, some sealed,
    // some not (crashed between rename and seal, or mid-copy). Only the
    // sealed ones are commits, and a read persists nothing — no marker
    // appears on an unsealed dir
    val prop = Prop.forAll(
      Gen.listOfN(8, Gen.oneOf(true, false)).suchThat(_.nonEmpty)) { flags =>
      val dir = java.nio.file.Files.createTempDirectory("dlog-mixed").toString
      val root = s"$dir/commits"
      val f = DeltaLog.fs(spark, dir)
      flags.zipWithIndex.foreach { case (sealedDir, i) =>
        f.mkdirs(new Path(s"$root/${i + 1}/docs"))
        f.create(new Path(s"$root/${i + 1}/docs/c${i + 1}"), true).close()
        if (sealedDir)
          f.create(
            new Path(s"$root/${i + 1}/${DeltaLog.CommitMarker}"), true).close()
      }
      val expected = flags.zipWithIndex.collect { case (true, i) => i + 1 }
      val before = f.listStatus(new Path(root)).length
      val got = DeltaLog.listSeqs(spark, root).toList
      val persisted = f.listStatus(new Path(root)).length != before ||
        flags.zipWithIndex.exists { case (sealedDir, i) =>
          !sealedDir && f.exists(
            new Path(s"$root/${i + 1}/${DeltaLog.CommitMarker}"))
        }
      got == expected && !persisted
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(result.passed, result.status.toString)
  }

  // ---- writer fencing --------------------------------------------------

  private sealed trait FOp
  private case object C1 extends FOp // stale writer commit
  private case object I1 extends FOp // stale writer install
  private case object C2 extends FOp // live writer commit
  private case object I2 extends FOp // live writer install
  private case object X1 extends FOp // stale writer dies mid-copy: torn
  // marker-less numeric dir — fencing checks can't stop a process that
  // crashes before reaching one, so the MARKER protocol must keep the
  // stray invisible and the live writer must never reuse its number

  test("writer fencing: interleaved two-writer schedules — the stale writer " +
      "fails loudly at every mutation and never changes the visible state") {
    val preGen = Gen.listOfN(4, Gen.frequency(
      (3, Gen.const(C1)), (2, Gen.const(I1))))
    val postGen = Gen.listOfN(8, Gen.frequency(
      (3, Gen.const(C1)), (2, Gen.const(I1)), (2, Gen.const(X1)),
      (3, Gen.const(C2)), (2, Gen.const(I2))))
    val prop = Prop.forAll(preGen, postGen) { (pre, post) =>
      val dir = java.nio.file.Files.createTempDirectory("dlog-fence").toString
      val root = s"$dir/commits"
      val f = DeltaLog.fs(spark, dir)
      def payload(path: String, tag: String): Unit = {
        f.mkdirs(new Path(s"$path/docs"))
        f.create(new Path(s"$path/docs/$tag"), true).close()
      }
      var committed = Vector.empty[Int]
      var installs = Vector.empty[(String, String)]
      def doCommit(we: WriterEpoch): Unit = {
        val seq = DeltaLog.nextSeq(spark, root)
        DeltaLog.commit(spark, root, seq, "docs", fenceDomain = dir,
          epoch = we)(payload(_, s"c$seq")): Unit
        committed :+= seq
      }
      def doInstall(we: WriterEpoch): Unit = {
        val tag = s"g${installs.size + 1}"
        val p = DeltaLog.installBase(spark, dir, "base", Keep,
          fenceDomain = dir, epoch = we)(payload(_, tag))
        installs :+= (p -> tag)
      }
      def viewOk(): Boolean =
        DeltaLog.listSeqs(spark, root) == committed &&
          (installs.isEmpty ||
            DeltaLog.currentBase(spark, dir, "base") == installs.last._1)
      val w1 = DeltaLog.acquireEpoch(spark, dir)
      // before the rival exists, the stale-to-be writer works normally
      pre.foreach {
        case C1 | C2 => doCommit(w1)
        case I1 | I2 => doInstall(w1)
      }
      val w2 = DeltaLog.acquireEpoch(spark, dir)
      // the generation the live writer's readers lease at takeover
      val leased = installs.lastOption.map(_._1)
      var liveInstalls = 0
      val stepsOk = post.forall { op =>
        op match {
          case C1 =>
            intercept[FencedWriterException](doCommit(w1)): Unit
          case I1 =>
            intercept[FencedWriterException](doInstall(w1)): Unit
          case X1 => // zombie dies mid-copy: complete-looking payload,
            // no seal — must stay invisible and its number never reused
            payload(s"$root/${DeltaLog.nextSeq(spark, root)}", "torn")
          case C2 => doCommit(w2)
          case I2 => doInstall(w2); liveInstalls += 1
        }
        // the leased base survives until the live writer itself retires
        // it past keepGenerations — the stale writer never GCs it
        val leasedOk = liveInstalls > Keep || leased.forall(l =>
          f.exists(new Path(s"$l/${DeltaLog.CommitMarker}")) &&
            f.exists(new Path(s"$l/docs")))
        viewOk() && leasedOk
      }
      stepsOk && viewOk()
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(result.passed, result.status.toString)
  }

  test("a rival arriving mid-commit fences the in-flight commit before it becomes visible") {
    val dir = java.nio.file.Files.createTempDirectory("dlog-midc").toString
    val root = s"$dir/commits"
    val f = DeltaLog.fs(spark, dir)
    def payload(path: String): Unit = {
      f.mkdirs(new Path(s"$path/docs"))
      f.create(new Path(s"$path/docs/d"), true).close()
    }
    val w1 = DeltaLog.acquireEpoch(spark, dir)
    DeltaLog.commit(spark, root, 1, "docs", fenceDomain = dir,
      epoch = w1)(payload): Unit
    var w2: WriterEpoch = null
    intercept[FencedWriterException] {
      DeltaLog.commit(spark, root, 2, "docs", fenceDomain = dir,
          epoch = w1) { tmp =>
        payload(tmp)
        w2 = DeltaLog.acquireEpoch(spark, dir) // the rival arrives mid-write
      }
    }
    // the fenced commit left only an invisible `.tmp-*` stray
    assert(DeltaLog.listSeqs(spark, root) == Seq(1))
    assert(!f.exists(new Path(s"$root/2")))
    // and the rival proceeds cleanly over it
    val seq = DeltaLog.nextSeq(spark, root)
    DeltaLog.commit(spark, root, seq, "docs", fenceDomain = dir,
      epoch = w2)(payload): Unit
    assert(DeltaLog.listSeqs(spark, root) == Seq(1, seq))
  }

  test("a rival arriving mid-install leaves an unsealed generation readers never resolve") {
    val dir = java.nio.file.Files.createTempDirectory("dlog-midi").toString
    val f = DeltaLog.fs(spark, dir)
    def payload(path: String): Unit = {
      f.mkdirs(new Path(s"$path/docs"))
      f.create(new Path(s"$path/docs/d"), true).close()
    }
    val w1 = DeltaLog.acquireEpoch(spark, dir)
    val g1 = DeltaLog.installBase(spark, dir, "base", Keep,
      fenceDomain = dir, epoch = w1)(payload)
    var w2: WriterEpoch = null
    intercept[FencedWriterException] {
      DeltaLog.installBase(spark, dir, "base", Keep, fenceDomain = dir,
          epoch = w1) { p =>
        payload(p)
        w2 = DeltaLog.acquireEpoch(spark, dir)
      }: Unit
    }
    // the fenced install is an unsealed stray; readers still resolve g1
    assert(DeltaLog.currentBase(spark, dir, "base") == g1)
    assert(f.exists(new Path(s"$dir/base-v2")) &&
      !f.exists(new Path(s"$dir/base-v2/${DeltaLog.CommitMarker}")))
    // the rival's install goes PAST the stray (its number never reused)
    // and GCs it — the documented crashed-stray sweep
    val g3 = DeltaLog.installBase(spark, dir, "base", Keep,
      fenceDomain = dir, epoch = w2)(payload)
    assert(g3 == s"$dir/base-v3" &&
      DeltaLog.currentBase(spark, dir, "base") == g3)
    assert(!f.exists(new Path(s"$dir/base-v2")))
  }

  test("epoch ledger GC keeps the newest claims — the maximum always survives") {
    val dir = java.nio.file.Files.createTempDirectory("dlog-egc").toString
    val f = DeltaLog.fs(spark, dir)
    // 12 sequential writer sessions: each acquire GCs claims older than
    // the newest 8, and every later acquire still lands past the max
    val epochs = (1 to 12).map(_ => DeltaLog.acquireEpoch(spark, dir).epoch)
    assert(epochs == (1 to 12))
    val ledger = f.listStatus(new Path(s"$dir/${DeltaLog.EpochDir}"))
      .map(_.getPath.getName).toSeq
    assert(ledger.size <= 8, s"ledger not GC'd: $ledger")
    assert(ledger.exists(_.startsWith("e-000000012-")),
      "the maximum claim must survive GC")
    // a zombie from BEFORE the GC horizon is still fenced
    intercept[FencedWriterException](DeltaLog.checkFence(spark,
      WriterEpoch(dir, 2, "00000000-dead-dead-dead-000000000000")))
  }

  test("damaged ledger entry: checkFence fails safe, acquireEpoch skips and recovers") {
    val dir = java.nio.file.Files.createTempDirectory("dlog-edam").toString
    val f = DeltaLog.fs(spark, dir)
    val live = DeltaLog.acquireEpoch(spark, dir)
    DeltaLog.checkFence(spark, live) // healthy ledger: the owner passes
    // an epoch-shaped entry whose number overflows Int — damage, not a
    // legitimate claim (legitimate epochs are %09d-formatted Ints)
    val damaged = new Path(
      s"$dir/${DeltaLog.EpochDir}/e-99999999999-deadbeef")
    f.create(damaged, true).close()
    // fail-SAFE: the damaged entry could be a higher rival's claim, so
    // the live writer's next fence check stops it, naming the file
    val e = intercept[FencedWriterException](DeltaLog.checkFence(spark, live))
    assert(e.getMessage.contains("e-99999999999-deadbeef"))
    // fail-OPEN on the restart path: acquireEpoch skips damage (a
    // damaged file must not brick every future writer start) and the
    // fresh session passes its own fence checks once the operator
    // deletes the named file
    val restarted = DeltaLog.acquireEpoch(spark, dir)
    assert(restarted.epoch == live.epoch + 1)
    assert(f.delete(damaged, false))
    DeltaLog.checkFence(spark, restarted) // healthy again after repair
  }

  test("reader lease: a resolved base stays complete across exactly keepGenerations installs") {
    // the documented lease bound (DeltaLog.installBase scaladoc): a
    // reader that resolved currentBase survives at most keepGenerations
    // subsequent installs — and is GC'd by the one after, exactly
    val prop = Prop.forAll(Gen.choose(0, Keep + 2)) { j =>
      val dir = java.nio.file.Files.createTempDirectory("dlog-lease").toString
      val f = DeltaLog.fs(spark, dir)
      def payload(path: String, tag: String): Unit = {
        f.mkdirs(new Path(s"$path/docs"))
        f.create(new Path(s"$path/docs/$tag"), true).close()
      }
      DeltaLog.installBase(spark, dir, "base", Keep, fenceDomain = dir)(payload(_, "g0")): Unit
      val resolved = DeltaLog.currentBase(spark, dir, "base")
      (1 to j).foreach(i =>
        DeltaLog.installBase(spark, dir, "base", Keep, fenceDomain = dir)(
          payload(_, s"g$i")): Unit)
      val complete =
        f.exists(new Path(s"$resolved/${DeltaLog.CommitMarker}")) &&
          f.exists(new Path(s"$resolved/docs/g0"))
      if (j <= Keep) complete else !f.exists(new Path(resolved))
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, result.status.toString)
  }

  test("reader lease holds for EVERY keepGenerations: survives iff installs <= keep") {
    // the general lease bound, quantified over the retention knob too —
    // the fixed-Keep test above pins the default; this one pins the
    // config surface (PipelineConfig.keepGenerations feeds this value)
    val prop = Prop.forAll(Gen.choose(1, 3), Gen.choose(0, 5)) { (keep, j) =>
      val dir = java.nio.file.Files.createTempDirectory("dlog-leasek").toString
      val f = DeltaLog.fs(spark, dir)
      def payload(path: String, tag: String): Unit = {
        f.mkdirs(new Path(s"$path/docs"))
        f.create(new Path(s"$path/docs/$tag"), true).close()
      }
      DeltaLog.installBase(spark, dir, "base", keep,
        fenceDomain = dir)(payload(_, "g0")): Unit
      val resolved = DeltaLog.currentBase(spark, dir, "base")
      (1 to j).foreach(i =>
        DeltaLog.installBase(spark, dir, "base", keep,
          fenceDomain = dir)(payload(_, s"g$i")): Unit)
      val complete =
        f.exists(new Path(s"$resolved/${DeltaLog.CommitMarker}")) &&
          f.exists(new Path(s"$resolved/docs/g0"))
      if (j <= keep) complete else !f.exists(new Path(resolved))
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(result.passed, result.status.toString)
  }
}
