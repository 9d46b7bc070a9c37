package graft

/** Error kinds that both serving planes map by type, never by message
  * text: a message may echo client input ("unknown metric: not found"),
  * which must not choose the status. Each is an IllegalArgumentException,
  * so a caller that catches that keeps working. `what` names the kind of
  * thing: "index", "tenant", "user", "version" or "vector". */
final class NotFoundException(val what: String, msg: String)
  extends IllegalArgumentException(msg)

/** The thing to create exists already (HTTP 409). */
final class ConflictException(val what: String, msg: String)
  extends IllegalArgumentException(msg)

/** A vector's length differs from its index's or its peer's. */
final class DimensionMismatchException(msg: String) extends IllegalArgumentException(msg)

object Errors {
  /** The first typed error kind in `e`'s cause chain — Spark wraps a
    * task's exception in its own. */
  def kindOf(e: Throwable): Option[IllegalArgumentException] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).collectFirst {
      case k: NotFoundException => k
      case k: ConflictException => k
      case k: DimensionMismatchException => k
    }
}
