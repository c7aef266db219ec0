package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry of the five persisted incremental stores, keyed by the
  * operator-facing kind names the [[graft.tools.Maintenance]] CLI and
  * [[graft.runtime.PipelineRunner]] share. Exists so retention has exactly
  * one code path from a configured `keepGenerations` to each store's
  * `compact` (and from there to `DeltaLog.installBase`) — a config knob
  * with two hand-rolled dispatch copies is how one of them goes stale.
  */
object Stores {

  /** A store kind: its commit log, read-only health frame and fold. */
  private final case class Kind(log: DeltaLog.Log,
      stats: (SparkSession, String) => DataFrame,
      compact: (SparkSession, String, Int) => Unit)

  private val registry: Seq[(String, Kind)] = Seq(
    "postings" -> Kind(IncrementalPostings.log,
      IncrementalPostings.stats(_, _), IncrementalPostings.compact(_, _, _)),
    "vector" -> Kind(VectorIndex.log, VectorIndex.stats, VectorIndex.compact(_, _, _)),
    "signature" -> Kind(SignatureStore.log, SignatureStore.stats(_, _), SignatureStore.compact(_, _, _)),
    "geo" -> Kind(GeoIndex.log, GeoIndex.stats, GeoIndex.compact(_, _, _)),
    "stats" -> Kind(StatsStore.log, StatsStore.stats, StatsStore.compact(_, _, _)))

  val Kinds: Seq[String] = registry.map(_._1)

  private def kind(name: String): Kind =
    registry.collectFirst { case (`name`, k) => k }.getOrElse(
      throw new IllegalArgumentException(
        s"unknown store kind '$name' (expected one of ${Kinds.mkString(", ")})"))

  /** Read-only health frame for `kind` at `dir`. */
  def stats(spark: SparkSession, kind: String, dir: String): DataFrame =
    this.kind(kind).stats(spark, dir)

  /** Pending (un-folded) commit count for `kind` at `dir` — one
    * metadata listing of the store's commit log, cheap enough to probe
    * between every batch.
    */
  def pendingCommits(spark: SparkSession, kind: String, dir: String): Int =
    this.kind(kind).log.seqs(spark, dir).length

  /** Threshold-gated compaction — the dispatch twin of each store's
    * `maybeCompact` hook, for callers holding only a (kind, dir) pair
    * ([[graft.runtime.PipelineRunner.maintain]]). An EMPTY commit log
    * never compacts: folding nothing would still burn a generation
    * number and rewrite the full base, so back-to-back maintenance with
    * no intervening appends is a metadata-only no-op. With pending
    * commits, the store's own policy decides (depth > `maxDeltas`;
    * postings additionally folds on its touched-docs fraction) —
    * `maxDeltas = 0` therefore means "fold whenever anything is
    * pending", the amortization-free per-batch posture. The log is
    * listed once for both decisions. Returns whether a compaction ran.
    */
  def maybeCompact(spark: SparkSession, kind: String, dir: String,
      maxDeltas: Int = 0, keepGenerations: Int = 1): Boolean = {
    val k = this.kind(kind)
    val pending = k.log.seqs(spark, dir)
    val due = pending.nonEmpty && k.log.foldDue(spark, dir, pending, maxDeltas)
    if (due) k.compact(spark, dir, keepGenerations)
    due
  }

  /** Fold `kind`'s pending commits into a fresh sealed base generation,
    * keeping `keepGenerations` previous generations alive for in-flight
    * readers (the reader-lease bound — see `DeltaLog.installBase`). A
    * MUTATION: resolves this JVM's session epoch for `dir` (or acquires
    * one), so calling from a second JVM against a live writer fences it.
    */
  def compact(spark: SparkSession, kind: String, dir: String,
      keepGenerations: Int): Unit =
    this.kind(kind).compact(spark, dir, keepGenerations)
}
