package graft

/** The driver-heap residency ledger. Every serving structure the engine
  * holds on the driver is admitted here: packed float lists, PQ code
  * lists, HNSW graphs, id pools with their tag indexes, and refine
  * stores. The reference holds its whole corpus in one process heap
  * (VectorIndexRegistry.cs:96); this is the bounded analog. Each
  * admission is checked against three bounds:
  *  - the per-handle cap: a handle above it never fits and is [[Denied]];
  *  - its line's cap, over all residents of that kind in the JVM;
  *  - [[TotalMaxBytes]], over every line together.
  * The last two return [[Busy]]: headroom can come back, so callers
  * retry on a later call instead of remembering the denial.
  *
  * [[admit]] reserves the estimate under one lock BEFORE the build runs,
  * so two concurrent admissions can never both pass one headroom check
  * and overshoot a cap together. The build itself, which can collect for
  * seconds, runs outside the lock.
  *
  * Accounting is weak-keyed by the resident object. Eviction releases a
  * share explicitly; a handle dropped without eviction (a discarded
  * engine) returns its share when it is collected — a plain counter would
  * leak those bytes for the JVM's lifetime. Keys compare by `equals`, so
  * residents are arrays or classes with identity equality. */
object Residency {

  /** One budget line: `handleMax` is the default cap on one resident (the
    * id and refine lines take a per-engine override), `lineMax` the cap
    * on all of the line's residents together. */
  final class Line private[Residency] (val name: String, val handleMax: Long,
                                       val lineMax: Long)

  private val heap = Runtime.getRuntime.maxMemory

  /** IVF_FLAT/FLAT packed lists: 512 MB covers the reference's published
    * 500k×dim128 ceiling (264 MB packed); bigger corpora serve through
    * the executor-side packed RDD. */
  val PackedFloats = new Line("packed-floats", 512L << 20, 2048L << 20)

  /** IVF_PQ packed code lists: 512 MB covers ~21M vectors at M = 8;
    * bigger corpora keep the distributed ADC plan. */
  val PqCodes = new Line("pq-codes", 512L << 20, 1024L << 20)

  /** HNSW graphs, which hold their float vectors plus adjacency — the
    * economics of the packed-floats line. */
  val HnswGraphs = new Line("hnsw-graphs", 512L << 20, 1024L << 20)

  /** Id pools, tag indexes, tag hash sets and tag row bitmaps. The
    * per-handle cap is the engine's `idPoolMaxBytes`; this default covers
    * ~25M ids at typical id lengths. */
  val IdsTags = new Line("ids-tags", 512L << 20, 1024L << 20)

  /** sq16 and u8 refine stores, on their own line so refine residency
    * cannot starve the id pools. Both caps derive from the running heap:
    * per store 1/4 of it capped at 8 GiB (the engine's `sq16MaxBytes`
    * default), per line 3/8 capped at 12 GiB — one full-size store plus
    * change. On a 32 GiB heap that seats the ~20M×dim128 corpora the rows
    * gate admits; on a 4 GiB embedded heap the store takes the plan
    * fallback instead of OOMing. */
  val Refine = new Line("refine", math.min(8192L << 20, heap / 4),
    math.min(12288L << 20, heap * 3 / 8))

  val Lines: Seq[Line] = Seq(PackedFloats, PqCodes, HnswGraphs, IdsTags, Refine)

  /** Cap on all lines together: half the max heap, leaving the other half
    * to Spark, the caches and the serving calls themselves. */
  val TotalMaxBytes: Long = heap / 2

  /** A resident that reports its own heap bytes; [[admit]] commits these
    * in place of the estimate. Other residents commit the estimate. */
  trait Sized { def bytes: Long }

  sealed trait Admission[+T]
  /** Built and counted. */
  final case class Admitted[+T](value: T) extends Admission[T]
  /** Over the per-handle cap: it never fits, so the denial may be kept. */
  case object Denied extends Admission[Nothing]
  /** Line or total full right now: retry on a later call. */
  case object Busy extends Admission[Nothing]

  private final case class Hold(line: Line, bytes: Long)
  private val holds = new java.util.WeakHashMap[AnyRef, Hold]()

  private def usedLocked(line: Option[Line]): Long = {
    var s = 0L
    holds.values.forEach(h => if (line.forall(_ eq h.line)) s += h.bytes)
    s
  }

  /** Bytes held on `line`: residents plus in-flight reservations. */
  def used(line: Line): Long = synchronized(usedLocked(Some(line)))

  /** Bytes held across every line. */
  def usedTotal: Long = synchronized(usedLocked(None))

  /** Reserve `estBytes` on `line`, run `build` outside the lock, then
    * commit the built value's bytes under its own weak key. A `build` that
    * throws returns the reservation before the exception propagates. */
  def admit[T <: AnyRef](line: Line, estBytes: Long)(build: => T): Admission[T] =
    admit(line, estBytes, line.handleMax)(build)

  /** [[admit]] with a per-handle cap other than the line's default. */
  def admit[T <: AnyRef](line: Line, estBytes: Long,
                         handleMax: Long)(build: => T): Admission[T] =
    if (estBytes > handleMax) Denied
    else {
      val token = new Object
      val reserved = synchronized {
        val fits = usedLocked(Some(line)) + estBytes <= line.lineMax &&
          usedLocked(None) + estBytes <= TotalMaxBytes
        if (fits) holds.put(token, Hold(line, estBytes))
        fits
      }
      if (!reserved) Busy
      else {
        val v = try build catch { case t: Throwable => release(token); throw t }
        val bytes = v match {
          case s: Sized => s.bytes
          case _ => estBytes
        }
        synchronized {
          holds.remove(token)
          holds.put(v, Hold(line, bytes))
        }
        Admitted(v)
      }
    }

  /** Return a resident's (or a hog's) share now rather than at GC. */
  def release(resident: AnyRef): Unit = synchronized(holds.remove(resident))

  /** Hold `bytes` on `line` past every check, until [[release]]d: specs
    * use it to fill a line and provoke contention. */
  private[graft] def hog(line: Line, bytes: Long): AnyRef = {
    val token = new Object
    synchronized(holds.put(token, Hold(line, bytes)))
    token
  }

  /** One handle's admission, remembered the way a lazy val would be —
    * except that [[Busy]] is not remembered: the next `get` tries again.
    * Keeping a Busy would make it permanent: a fresh engine on a root
    * whose previous instance still held the line at first touch would
    * refuse the handle long after the old instance's share was collected.
    * [[Denied]] is kept (over the cap, or no such table: fixed for the
    * snapshot's lifetime). Concurrent first callers wait for the one
    * admission. An admitted value keeps its identity until [[release]]
    * (tag row bitmaps align to the parts arrays they were built over). */
  final class Memo[T <: AnyRef](admission: => Admission[T]) {
    @volatile private var state: Option[Option[T]] = None
    def get: Option[T] = state.getOrElse(synchronized {
      if (state.isEmpty) admission match {
        case Admitted(v) => state = Some(Some(v))
        case Denied => state = Some(None)
        case Busy =>
      }
      state.getOrElse(None)
    })

    /** The answer `get` settled on, without admitting: None before one
      * (or after a Busy), Some(None) for a denial. */
    def settled: Option[Option[T]] = state

    /** Return the admitted value's share and forget the answer: a later
      * `get` admits again. */
    def release(): Unit = synchronized {
      state.flatten.foreach(Residency.release)
      state = None
    }
  }
}
