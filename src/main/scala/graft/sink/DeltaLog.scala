package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, max, when}

/** Thrown when a writer holding a stale [[WriterEpoch]] touches a store
  * a newer writer has since claimed — the zombie-writer guard. The
  * fenced process must stop; resuming requires a deliberate restart
  * (which acquires a fresh, higher epoch).
  */
final class FencedWriterException(msg: String) extends RuntimeException(msg)

/** A writer's claim on a store, acquired once per writer session via
  * [[DeltaLog.acquireEpoch]] and checked at every mutation point. A
  * strictly higher epoch — or the same epoch with a lexicographically
  * smaller token, the deterministic tie-break when two writers race the
  * same number — fences this one.
  */
final case class WriterEpoch(domain: String, epoch: Int, token: String)

/** The shared commit protocol of the incrementally-maintained indexes
  * ([[IncrementalPostings]], [[VectorIndex]], [[SignatureStore]],
  * [[GeoIndex]], [[StatsStore]]): a log of numbered delta directories
  * under a root, each written under a dot-prefixed temp name, renamed
  * into place, then SEALED by a zero-byte [[CommitMarker]] sentinel
  * written as the final operation. A commit is visible if and only if
  * its marker exists.
  *
  * The marker — not the rename — is what readers gate on. Directory
  * rename is atomic on local FS/HDFS, but on object stores (S3A, the
  * engine's declared 100 TB substrate) "rename" is a non-atomic
  * copy+delete: a reader listing the log mid-copy would see the commit
  * directory with PARTIAL contents. A single-object PUT is atomic
  * everywhere, and the sentinel is only written once every data object
  * exists at its final path — so [[listSeqs]] admitting only
  * marker-sealed commits makes a torn copy invisible, matching the
  * reference's nothing-visible-until-the-barrier-completes contract
  * (PaimonIngestor.java:341-368).
  *
  * Single-writer contract (one ingest pipeline per index, like the
  * reference): Hadoop's directory rename is not a compare-and-swap
  * everywhere — on HDFS/S3A renaming onto an EXISTING directory moves
  * the source INTO it and still returns true, silently swallowing a
  * racing committer. [[commit]] verifies OUR data landed at the final
  * path and turns that contract violation into a loud failure — and the
  * contract itself is ENFORCED by writer fencing: each writer session
  * registers a [[WriterEpoch]] in the store's `_epochs` ledger, and
  * every mutation point re-checks it, so a zombie writer (stale driver
  * retry, orphaned job) dies with [[FencedWriterException]] at its next
  * touch instead of interleaving commits or GC'ing a generation a live
  * writer's readers lease. All of a store's mutation paths must share
  * ONE fence domain (the store's root dir); split domains fence only
  * the op types the live writer has already exercised. The stores reach
  * the protocol through one [[Log]] value each, which fences every
  * mutation on the store dir.
  */
private[sink] object DeltaLog {

  /** Zero-byte sentinel sealing a commit directory; written LAST, after
    * the rename, so its presence proves every data object is in place.
    */
  val CommitMarker = "_COMMITTED"

  /** Run the independent leg writes of ONE commit/install body
    * concurrently (optimization guide §2.6: Spark happily runs several
    * jobs at once inside one application — actions are only sequential
    * because the driver calls them sequentially). A store commit writes
    * 2–4 small independent legs (postings/norms/positional/docs,
    * cells/docs, …) into the SAME pre-rename temp dir; serializing them
    * leaves the cluster idle during each leg's tail. Every leg is always
    * awaited — even when one fails — so the caller's cleanup can never
    * race a still-running leg's writes; the first failure is rethrown
    * after the barrier.
    *
    * Each leg runs on its own pool thread (inheriting the caller's Spark
    * local properties) under its own job tag ([[LegTagPrefix]]). An
    * interrupted caller cancels the tagged jobs — a thread blocked in an
    * action returns on interrupt while its tasks keep writing — and
    * rethrows only once no leg thread or tagged task is left
    * ([[stopLegs]]).
    */
  private[sink] def inParallel(spark: SparkSession)(legs: (() => Unit)*): Unit = {
    if (legs.isEmpty) return
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val call = java.util.UUID.randomUUID()
    val tags = legs.indices.map(i => s"$LegTagPrefix$call-$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(legs.size)
    try {
      val tasks = legs.zip(tags).map { case (l, tag) =>
        new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] = {
            sc.addJobTag(tag)
            try { l(); None } catch { case e: Throwable => Some(e) }
            finally sc.removeJobTag(tag)
          }
        }
      }
      val outcomes =
        try pool.invokeAll(tasks.asJava).asScala.map(_.get())
        catch {
          case e @ (_: InterruptedException |
              _: java.util.concurrent.CancellationException) =>
            stopLegs(sc, pool, tags)
            Thread.currentThread().interrupt()
            throw e
        }
      outcomes.flatten.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }

  /** Job-tag prefix of [[inParallel]]'s legs: one tag per leg per call. */
  private[sink] val LegTagPrefix = "graft-leg-"

  /** Upper bound on the interrupt barrier's wait for cancelled legs. */
  private val LegStopPatience = java.time.Duration.ofMinutes(10)

  /** The interrupt barrier of [[inParallel]]: keep cancelling the legs'
    * tagged jobs (a leg between two actions may start a fresh one) until
    * every leg thread has exited and no tagged job runs or has an active
    * task. Leg threads are not interrupted: the cancel fails their
    * pending action, while an interrupt could tear a Hadoop write.
    */
  private def stopLegs(sc: org.apache.spark.SparkContext,
      pool: java.util.concurrent.ExecutorService, tags: Seq[String]): Unit = {
    val deadline = System.nanoTime() + LegStopPatience.toNanos
    val st = sc.statusTracker
    def running = tags.exists(st.getJobIdsForTag(_).exists(job =>
      st.getJobInfo(job).exists { j =>
        j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
          j.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0))
      }))
    pool.shutdown()
    while ((!pool.isTerminated || running) && System.nanoTime() < deadline) {
      tags.foreach(sc.cancelJobsWithTag)
      try Thread.sleep(50) catch { case _: InterruptedException => () }
    }
  }

  def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- writer fencing --------------------------------------------------
  //
  // Single-writer was previously TRUST-BASED outside the post-rename
  // clobber check: a zombie writer (stale driver retry, orphaned job)
  // could interleave commits/installs with a live writer, or GC a base
  // generation the live writer's readers lease. The epoch ledger makes
  // it enforced: a writer session registers an epoch file under
  // `$domain/_epochs` at its first mutation; every later PUT point
  // re-lists the ledger and fails loudly ([[FencedWriterException]])
  // the moment a higher claim exists. Object stores have no
  // compare-and-swap, so a check-then-PUT window remains (a rival that
  // acquires between a writer's final check and its sealing PUT is not
  // caught by the check itself) — but the rival acquires BEFORE its
  // first list of the log, so anything the zombie sealed earlier is in
  // the rival's view, and the zombie's NEXT touch dies. This is the
  // standard fencing bound (cf. Kafka producer epochs, HDFS lease
  // recovery) and shrinks the unbounded trust window to one in-flight
  // marker PUT.

  /** Directory under the fence domain holding one zero-byte claim file
    * per writer session: `e-<epoch%09d>-<token>`.
    */
  val EpochDir = "_epochs"

  private val epochPat = "e-(\\d+)-(.+)".r

  /** Parsed claims plus the names of DAMAGED entries (epoch-shaped files
    * whose number overflows Int — corrupt or foreign; legitimate epochs
    * are %09d-formatted Ints). The two callers treat damage opposingly,
    * by design:
    *  - [[acquireEpoch]] (the restart path) SKIPS damaged entries with a
    *    loud once-per-JVM warning — a damaged file must not brick every
    *    future writer start; the operator deletes it at leisure.
    *  - [[checkFence]] (the live-writer mutation guard) treats ANY
    *    damaged entry as FENCING — fail-safe: a damaged-but-higher claim
    *    that the skip made invisible would otherwise open a fencing hole
    *    (two live writers). The fenced writer's error names the file;
    *    deleting it and restarting (which re-acquires) restores writes.
    */
  private def listEpochs(f: org.apache.hadoop.fs.FileSystem,
      domain: String): (Seq[(Int, String)], Seq[String]) = {
    val p = new Path(s"$domain/$EpochDir")
    if (!f.exists(p)) (Seq.empty, Seq.empty)
    else {
      val (ok, bad) = (Seq.newBuilder[(Int, String)], Seq.newBuilder[String])
      f.listStatus(p).foreach(_.getPath.getName match {
        case epochPat(n, t) => n.toIntOption match {
          case Some(e) => ok += ((e, t))
          case None => bad += s"$domain/$EpochDir/e-$n-$t"
        }
        case _ => ()
      })
      (ok.result(), bad.result())
    }
  }
  private val badEpochWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def warnDamaged(files: Seq[String]): Unit = files.foreach { file =>
    if (badEpochWarned.add(file)) System.err.println(
      s"[DeltaLog] ignoring unparseable epoch ledger entry $file " +
        "(epoch number outside Int range — corrupt or foreign file; " +
        "delete it to silence this warning)")
  }

  /** Register this writer session's claim on `domain` (a store's root
    * directory): PUT an epoch file numbered past every existing claim,
    * then re-list — if the re-list shows a strictly higher claim, or the
    * same number with a smaller token (two writers raced the same
    * number; the smaller token deterministically wins), this writer lost
    * the race and fails at birth. Claims older than the newest
    * [[EpochKeep]] are GC'd here (never the maximum — that is what
    * fences the zombies).
    */
  def acquireEpoch(spark: SparkSession, domain: String): WriterEpoch = {
    val f = fs(spark, domain)
    f.mkdirs(new Path(s"$domain/$EpochDir"))
    val (before, damaged0) = listEpochs(f, domain)
    warnDamaged(damaged0)
    val n = (before.map(_._1) :+ 0).max + 1
    val token = java.util.UUID.randomUUID().toString
    f.create(new Path(f"$domain/$EpochDir/e-$n%09d-$token"), true).close()
    val (after, damaged1) = listEpochs(f, domain)
    warnDamaged(damaged1)
    if (after.exists { case (m, t) => m > n || (m == n && t < token) })
      throw new FencedWriterException(
        s"writer lost the epoch-$n race at $domain/$EpochDir — " +
          "another writer claimed this store concurrently")
    val stale = after.map(_._1).distinct.sorted.dropRight(EpochKeep).toSet
    after.filter(e => stale.contains(e._1)).foreach { case (m, t) =>
      f.delete(new Path(f"$domain/$EpochDir/e-$m%09d-$t"), false): Unit
    }
    WriterEpoch(domain, n, token)
  }

  private val EpochKeep = 8

  /** Fail loudly if a claim newer than `we` exists — called at every
    * mutation point of [[commit]] / [[installBase]] / [[Log.fold]].
    */
  def checkFence(spark: SparkSession, we: WriterEpoch): Unit = {
    val (claims, damaged) = listEpochs(fs(spark, we.domain), we.domain)
    // fail-SAFE on ledger damage: an unparseable entry could be a
    // damaged-but-higher rival claim — invisible-if-skipped would mean
    // two live writers. The writer stops; the error names the file
    // (delete it, restart — acquireEpoch deliberately skips damage so
    // the restart succeeds).
    if (damaged.nonEmpty)
      throw new FencedWriterException(
        s"writer epoch ${we.epoch} at ${we.domain} stopping on " +
          s"unparseable epoch ledger entries (${damaged.mkString(", ")}) " +
          "— a damaged entry could be a newer rival's claim, so writes " +
          "fail safe. Delete the named file(s), then restart the writer " +
          "(restart re-acquires an epoch; acquisition itself skips " +
          "damage, so a stray file can never brick the restart).")
    val newest = claims
      .filter { case (m, t) => m > we.epoch || (m == we.epoch && t < we.token) }
    if (newest.nonEmpty)
      throw new FencedWriterException(
        s"writer epoch ${we.epoch} is fenced by epoch " +
          s"${newest.map(_._1).max} at ${we.domain} — a newer writer owns " +
          "this store; this process must stop (restart acquires a fresh " +
          "epoch). README: 'Operating the fenced stores'.")
  }

  /** One epoch per (JVM, store): the production stores call [[commit]] /
    * [[installBase]] statically, so the writer "session" is the JVM —
    * the first mutation acquires, every later one reuses and re-checks.
    * Tests simulating rival writers pass explicit [[WriterEpoch]]s
    * instead.
    */
  private val sessionEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, WriterEpoch]()
  private[sink] def resolveEpoch(spark: SparkSession, domain: String,
      explicit: WriterEpoch): WriterEpoch =
    if (explicit != null) explicit
    else sessionEpochs.computeIfAbsent(domain, d => acquireEpoch(spark, d))

  /** Test hook: forget this JVM's cached claim so the next mutation
    * re-acquires (simulates a writer restart).
    */
  private[sink] def clearSessionEpoch(domain: String): Unit =
    sessionEpochs.remove(domain): Unit

  /** Every numeric delta dir under `root`, sealed or not — the writer's
    * view, used only to pick fresh sequence numbers so a crashed
    * (marker-less) commit's number is never reused.
    */
  private def numericSeqs(spark: SparkSession, root: String): Seq[Int] = {
    val p = new Path(root)
    val f = fs(spark, root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toInt).sorted
  }

  /** COMMITTED sequence numbers under `root`, ascending: numeric dirs
    * sealed by [[CommitMarker]]. Skips in-flight `.tmp-*` dirs, strays
    * (non-numeric names), and marker-less dirs — the latter are torn or
    * crashed commits a reader must never consume (their writer either
    * died before sealing, or an object-store copy is still in flight).
    * Reads write nothing.
    */
  def listSeqs(spark: SparkSession, root: String): Seq[Int] = {
    val f = fs(spark, root)
    numericSeqs(spark, root)
      .filter(s => f.exists(new Path(s"$root/$s/$CommitMarker")))
  }

  /** Next fresh sequence: past ALL numeric dirs, sealed or not — reusing
    * a crashed commit's number would rename INTO its leftover directory.
    */
  def nextSeq(spark: SparkSession, root: String): Int =
    (numericSeqs(spark, root) :+ 0).max + 1

  /** Run `write` against the temp path for `seq`, rename it into place,
    * verify the rename placed OUR commit there (`markerChild` must exist
    * directly under the final path, and nothing `.tmp`-nested may — the
    * signature of a swallowed concurrent rename), then seal the commit
    * with [[CommitMarker]] as the LAST write. Readers admit the commit
    * only once the sentinel exists. Returns `seq`.
    */
  def commit(spark: SparkSession, root: String, seq: Int,
      markerChild: String, fenceDomain: String,
      epoch: WriterEpoch = null)(write: String => Unit): Int = {
    // REQUIRED: a store's commit root is usually `$dir/commits`, a
    // CHILD of the fence domain — defaulting to the root here silently
    // split the domain (zombie commits unfenced by a rival's epoch on
    // the store dir, the class-doc hazard)
    require(fenceDomain != null && fenceDomain.nonEmpty,
      "commit() needs the store's fence domain (the store root dir — " +
        "the SAME domain every other mutation of this store checks)")
    val we = resolveEpoch(spark, fenceDomain, epoch)
    checkFence(spark, we) // early out before burning the write
    val tmp = s"$root/.tmp-$seq"
    write(tmp)
    val f = fs(spark, root)
    // re-check AFTER the (possibly long) write, BEFORE anything becomes
    // visible — a fenced commit leaves only an invisible `.tmp-*` stray
    checkFence(spark, we)
    val dest = new Path(s"$root/$seq")
    require(f.rename(new Path(tmp), dest),
      s"could not commit delta $seq (concurrent writer?)")
    val ok = f.exists(new Path(dest, markerChild)) &&
      !f.listStatus(dest).exists(_.getPath.getName.startsWith(".tmp"))
    require(ok, s"delta $seq commit was clobbered by a concurrent writer " +
      "(this index is single-writer; serialize commits upstream)")
    // final check before the sealing PUT: a commit fenced here stays an
    // unsealed renamed dir — the crashed-commit shape readers never admit
    checkFence(spark, we)
    f.create(new Path(dest, CommitMarker), true).close()
    seq
  }

  // ---- versioned, marker-gated BASE directories ------------------------
  //
  // On S3A a directory rename is a non-atomic copy+delete, so a base
  // swapped in by rename can be read missing or PARTIAL mid-swap. The
  // versioned protocol never renames a directory: each generation is
  // written IN PLACE as `$dir/$name-v<N>`, sealed by [[CommitMarker]] as
  // the final single-object PUT, and readers resolve the highest SEALED
  // generation. The newest `keepGenerations` previous sealed generations
  // are kept so a reader that resolved its base before recent installs
  // keeps a complete directory to scan; older ones are GC'd. A crashed
  // install leaves an unsealed generation that readers never see and
  // whose number is never reused.

  private def baseVersions(spark: SparkSession, dir: String,
      name: String): Seq[(Int, Boolean)] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    val pat = (java.util.regex.Pattern.quote(name) + "-v(\\d+)").r
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case pat(n) =>
          Some((n.toInt,
            f.exists(new Path(st.getPath, CommitMarker))))
        case _ => None
      }).sortBy(_._1)
  }

  /** The CURRENT base directory for `name` under `dir`: the highest
    * sealed `$name-v<N>` generation. A store without one was never
    * built (or every install crashed before its seal).
    */
  def currentBase(spark: SparkSession, dir: String, name: String): String =
    baseVersions(spark, dir, name).filter(_._2).lastOption match {
      case Some((v, _)) => s"$dir/$name-v$v"
      case None => throw new java.io.FileNotFoundException(
        s"no sealed '$name' base generation under $dir")
    }

  /** Install a new base generation: run `write` against the next
    * versioned path (PAST every existing generation, sealed or not, so
    * a crashed install never collides), seal it with [[CommitMarker]],
    * then GC all but the newest `keepGenerations` PREVIOUS sealed
    * generations (unsealed crashed strays go immediately — no reader
    * ever resolves one). Returns the new base path; visibility is the
    * marker PUT — no directory is ever renamed.
    *
    * READER-LEASE BOUND: a reader that resolved [[currentBase]] stays
    * complete across at most `keepGenerations` subsequent installs —
    * size it to (longest expected scan) / (shortest compaction
    * interval). The default 1 covers one compaction; a multi-hour query
    * over a busy store needs a larger window (each retained generation
    * costs one full base copy of storage).
    */
  def installBase(spark: SparkSession, dir: String, name: String,
      keepGenerations: Int = 1, fenceDomain: String,
      epoch: WriterEpoch = null)(write: String => Unit): String = {
    require(keepGenerations >= 1,
      s"keepGenerations must be >= 1, got $keepGenerations")
    // required like commit()'s: for the production stores this IS `dir`,
    // but spelling it at the call site keeps a future multi-store root
    // from silently splitting the fence domain
    require(fenceDomain != null && fenceDomain.nonEmpty,
      "installBase() needs the store's fence domain (the store root " +
        "dir — the SAME domain every other mutation of this store checks)")
    val we = resolveEpoch(spark, fenceDomain, epoch)
    checkFence(spark, we)
    val f = fs(spark, dir)
    val versions = baseVersions(spark, dir, name)
    val v = (versions.map(_._1) :+ 0).max + 1
    val path = s"$dir/$name-v$v"
    write(path)
    // before the sealing PUT: a fenced install stays an unsealed
    // generation no reader resolves and whose number is never reused
    checkFence(spark, we)
    f.create(new Path(s"$path/$CommitMarker"), true).close()
    // before GC: a fenced writer must never delete a generation the
    // live writer's readers lease
    checkFence(spark, we)
    val sealedPrev = versions.filter(_._2).map(_._1)
    val retained = sealedPrev.takeRight(keepGenerations).toSet
    versions.map(_._1).filter(o => !retained.contains(o))
      .foreach(o => f.delete(new Path(s"$dir/$name-v$o"), true))
    path
  }

  // ---- the store kit -----------------------------------------------------

  /** One store's log: commits under `$dir/$sub`, base generations
    * `$dir/$base-v<N>`, every mutation fenced on the store dir.
    * `markerChild` is the payload child every commit writes;
    * `foldDue(spark, dir, pending, maxDeltas)` is the fold policy.
    */
  final case class Log(sub: String, base: String, markerChild: String = "docs",
      foldDue: (SparkSession, String, Seq[Int], Int) => Boolean =
        (_, _, pending, maxDeltas) => pending.length > maxDeltas) {

    def commitDir(dir: String, seq: Int): String = s"$dir/$sub/$seq"

    /** Sealed commits, ascending. */
    def seqs(spark: SparkSession, dir: String): Seq[Int] =
      listSeqs(spark, s"$dir/$sub")

    def currentBase(spark: SparkSession, dir: String): String =
      DeltaLog.currentBase(spark, dir, base)

    /** Owner table of the merge-on-read views: per id any commit in
      * `seqs` wrote (its `docs` leg), the highest such seq `_live_seq`.
      */
    def owners(spark: SparkSession, dir: String, seqs: Seq[Int],
        idCol: String): DataFrame =
      seqs.map { s =>
        spark.read.parquet(s"${commitDir(dir, s)}/docs")
          .select(col(idCol), lit(s).as("_live_seq"))
      }.reduce(_.unionByName(_))
        .groupBy(col(idCol)).agg(max("_live_seq").as("_live_seq"))

    /** Commit one batch under the next seq, each leg writing into the
      * commit's temp dir, the legs run by [[inParallel]]. Returns the seq.
      */
    def commit(spark: SparkSession, dir: String)(legs: (String => Unit)*): Int =
      DeltaLog.commit(spark, s"$dir/$sub", nextSeq(spark, s"$dir/$sub"),
          markerChild, fenceDomain = dir) { tmp =>
        inParallel(spark)(legs.map(leg => () => leg(tmp)): _*)
      }

    /** Reject an upsert batch the owner table cannot resolve, in ONE
      * aggregate action: a null id (invisible to the equality-keyed owner
      * join — never superseded or deleted) or a duplicated one (both
      * versions would survive the one-owner-seq-per-id filter).
      */
    def requireOwnable(batch: DataFrame, idCol: String): Unit = {
      val g = batch.agg(count(lit(1)).as("n"),
        count_distinct(col(idCol)).as("nd"),
        count(when(col(idCol).isNull, 1)).as("nn")).head()
      require(g.getLong(2) == 0 && g.getLong(0) == g.getLong(1),
        s"upsert: batch carries a null or duplicated '$idCol' " +
          s"(${g.getLong(0)} rows, ${g.getLong(1)} distinct non-null ids); " +
          "a commit owns each non-null id once — dedupe last-writer-wins " +
          "upstream")
    }

    /** Commit keyed tombstones: the `ids` own their rows with an empty
      * `leg` of the base's schema (unionByName-complete). Returns the seq.
      */
    def commitTombstones(spark: SparkSession, dir: String, ids: DataFrame,
        idCol: String, leg: String): Int = {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        spark.read.parquet(currentBase(spark, dir)).schema).repartition(1)
      commit(spark, dir)(
        tmp => empty.write.mode("overwrite").parquet(s"$tmp/$leg"),
        tmp => ids.select(col(idCol)).distinct().coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/docs"))
    }

    /** Install a new base (`write`) alongside the independent
      * `sideLegs`, then drop the log: everything live is in the base.
      */
    def rebuild(spark: SparkSession, dir: String, sideLegs: (() => Unit)*)(
        write: String => Unit): Unit = {
      val install = () => installBase(spark, dir, base, fenceDomain = dir)(write): Unit
      inParallel(spark)(install +: sideLegs: _*)
      fs(spark, dir).delete(new Path(s"$dir/$sub"), true): Unit
    }

    /** Fold the pending commits into a new base generation (`folded`
      * is built after the epoch resolves), then delete them behind a
      * fence re-check: a zombie compactor never deletes commits a rival's
      * view holds. Returns whether anything was pending.
      */
    def fold(spark: SparkSession, dir: String, keepGenerations: Int,
        epoch: WriterEpoch)(folded: => String => Unit): Boolean = {
      val pending = seqs(spark, dir)
      if (pending.nonEmpty) {
        val we = resolveEpoch(spark, dir, epoch)
        installBase(spark, dir, base, keepGenerations, fenceDomain = dir,
          epoch = we)(folded): Unit
        checkFence(spark, we)
        val f = fs(spark, dir)
        pending.foreach(s => f.delete(new Path(commitDir(dir, s)), true))
      }
      pending.nonEmpty
    }

    /** Run `compact` iff [[foldDue]] holds for the pending commits;
      * returns that.
      */
    def maybeCompact(spark: SparkSession, dir: String, maxDeltas: Int)(
        compact: => Unit): Boolean = {
      val due = foldDue(spark, dir, seqs(spark, dir), maxDeltas)
      if (due) compact
      due
    }
  }
}
