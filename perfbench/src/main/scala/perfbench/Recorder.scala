package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed interval on one driver thread. `parent` is the enclosing
  * span on the same thread (0 at top level).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and operation counts for one run.
  *
  * With tracing on, every span also tags the Spark jobs started inside
  * it (`SparkContext.addJobTag`, tag `pb:<depth>:<name>`), so the job
  * listener can charge each job to its innermost span. Thread pools
  * created inside a span inherit the tag through Spark's inheritable
  * local properties.
  */
final class Recorder(sc: SparkContext, val tracing: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    val tag = s"pb:${parents.size}:$name"
    if (tracing) sc.addJobTag(tag)
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      if (tracing) sc.removeJobTag(tag)
      spans.add(Span(id, parents.headOption.getOrElse(0), name, t0, t1))
    }
  }

  /** A counted operation: one attempt, and one failure if it throws. */
  def op[T](name: String)(body: => T): T = {
    attempted.incrementAndGet()
    try span(name)(body)
    catch { case e: Throwable => failed.incrementAndGet(); throw e }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def named(name: String, from: Long = Long.MinValue,
      to: Long = Long.MaxValue): Seq[Span] =
    all.filter(s => s.name == name && s.startNs >= from && s.endNs <= to)

  def prefixed(prefix: String, from: Long, to: Long): Seq[Span] =
    all.filter(s => s.name.startsWith(prefix) && s.startNs >= from &&
      s.endNs <= to)

  /** Span time minus the time of its direct child spans. */
  def selfMs(s: Span, among: Seq[Span]): Double =
    s.ms - among.filter(_.parent == s.id).map(_.ms).sum
}

object Stats {
  /** Nearest-rank percentile: always one of the measured values. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
