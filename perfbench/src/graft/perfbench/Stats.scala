package graft.perfbench

/** Order statistics for the benchmark's latency samples. */
object Stats {

  /** Nearest-rank percentile of `sorted` (ascending); NaN when empty. */
  def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val rank = math.ceil(p / 100.0 * sorted.length).toInt
      sorted(math.min(sorted.length, math.max(1, rank)) - 1)
    }

  def sortedCopy(xs: Iterable[Double]): Array[Double] = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    a
  }

  /** The median, over `slices` consecutive equal-count slices of `xs`
    * (in send order), of each slice's percentile `p`. A burst of host or
    * background work that slows one slice moves it less than the pooled
    * percentile; a slowdown spread over the window moves both alike. */
  def slicedPercentile(xs: Array[Double], p: Double, slices: Int): Double = {
    val per = xs.length / slices
    if (per == 0) percentile(sortedCopy(xs), p)
    else percentile(sortedCopy((0 until slices).map(s =>
      percentile(sortedCopy(xs.slice(s * per, (s + 1) * per)), p))), 50)
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The highest of the usual reporting percentiles that still has at
    * least ten samples beyond it: a p99 over 300 samples rests on three
    * values and says little, so the printout names the percentile the
    * sample actually supports. 0 when even the median lacks ten. */
  def supportedPercentile(n: Int,
                          candidates: Seq[Double] = Seq(50, 90, 99, 99.9)): Double =
    candidates.filter(p => n * (1.0 - p / 100.0) >= 10.0 - 1e-9)
      .lastOption.getOrElse(0.0)
}

/** A closed interval of nanosecond timestamps. */
final case class Interval(start: Long, end: Long) {
  def duration: Long = end - start
}

object Intervals {

  /** Nanoseconds of `span` covered by the union of `children`, each
    * clipped to `span` first; overlapping children count once. */
  def covered(span: Interval, children: Seq[Interval]): Long = {
    val clipped = children
      .map(c => Interval(math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter(c => c.end > c.start)
      .sortBy(_.start)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { c =>
      if (c.start > curE) {
        if (curE > curS) total += curE - curS
        curS = c.start; curE = c.end
      } else if (c.end > curE) curE = c.end
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(span: Interval, children: Seq[Interval]): Long =
    span.duration - covered(span, children)
}
