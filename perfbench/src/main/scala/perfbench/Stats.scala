package perfbench

import scala.collection.mutable

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, reported only when at least `minBeyond`
    * samples lie strictly above it; a tail read off fewer samples than
    * that is one outlier, not a percentile. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    if (xs.isEmpty) return None
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    val v = s(rank - 1)
    if (s.count(_ > v) >= minBeyond) Some(v) else None
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** A request the server answered with `ER`, or with an error object. */
final class ServerError(msg: String) extends RuntimeException(msg)

/** A result that decoded but does not match the value recomputed from
  * the seed. */
final class WrongResult(msg: String) extends RuntimeException(msg)

/** Thread-safe op ledger. Every attempted op is counted; an op becomes a
  * latency sample only if it returned normally, which the op body does
  * only after its reply decoded and passed its check. An `ER` reply, an
  * exception, or a failed check is a failure and never a sample. */
final class Ledger {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.Map.empty[String, Int]
  private var nAttempted = 0L
  private var nFailed = 0L
  private var nWrong = 0L

  /** Runs `body`, which returns the op's latency in ms. */
  def attempt(verb: String)(body: => Double): Boolean = {
    synchronized(nAttempted += 1)
    try {
      val ms = body
      synchronized(samples.getOrElseUpdate(verb, mutable.ArrayBuffer.empty) += ms)
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $verb failed: $e")
        val cause = e match {
          case _: ServerError => "ER reply"
          case _: WrongResult => "wrong result"
          case o => o.getClass.getSimpleName
        }
        synchronized {
          nFailed += 1
          if (e.isInstanceOf[WrongResult]) nWrong += 1
          val key = s"$verb: $cause"
          failures(key) = failures.getOrElse(key, 0) + 1
        }
        false
    }
  }

  def attempted: Long = synchronized(nAttempted)
  def failed: Long = synchronized(nFailed)
  def wrong: Long = synchronized(nWrong)
  def failureCauses: Map[String, Int] = synchronized(failures.toMap)
  def of(verb: String): Seq[Double] =
    synchronized(samples.get(verb).map(_.toSeq).getOrElse(Nil))
  def count(verb: String): Int = synchronized(samples.get(verb).map(_.size).getOrElse(0))
  def completed: Long = synchronized(samples.valuesIterator.map(_.size.toLong).sum)
  /** Every sample of the verbs `prefix/<kind>`, pooled. */
  def pooled(prefix: String): Seq[Double] =
    synchronized(samples.collect { case (k, v) if k.startsWith(prefix + "/") => v }.flatten.toSeq)
  /** Mean over the request mix of each kind's median latency: every
    * `prefix/<kind>` verb's median, weighted by its share of the samples.
    * Medians keep one slow sample from moving the figure; weighting by
    * share keeps a kind whose latency is a fraction of a millisecond from
    * dominating it. */
  def mixMean(prefix: String): Double = synchronized {
    val kinds = samples.collect { case (k, v) if k.startsWith(prefix + "/") => v }.toSeq
    kinds.map(v => v.size * Stats.median(v.toSeq)).sum / kinds.map(_.size).sum
  }
}
