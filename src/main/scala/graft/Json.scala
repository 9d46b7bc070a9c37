package graft

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonProcessingException, JsonToken, StreamReadFeature}
import com.fasterxml.jackson.core.JsonToken.{END_ARRAY, FIELD_NAME, START_ARRAY, START_OBJECT, VALUE_FALSE, VALUE_NUMBER_FLOAT, VALUE_NUMBER_INT, VALUE_STRING, VALUE_TRUE}
import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.core.json.JsonReadFeature

/** The one JSON codec of the config plane, the REST bodies and the
  * sidecar rows: a strict object reader and a string quoter, both on the
  * Jackson already on the classpath. Writers render their records with
  * string templates and [[quote]]; readers go through [[parse]], so a
  * damaged record fails with an error naming its source and field
  * instead of reading as defaults. */
object Json {

  // NaN / ±Infinity: Scala's Double/Float toString writes them, so the
  // reader must accept what the writers render. A repeated key is an
  // ambiguous record and fails like any other malformed input.
  private val factory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .build()

  /** A record file's text. A file cut inside a UTF-8 character fails
    * with an IllegalStateException naming the file, where
    * `Files.readString` throws a MalformedInputException naming neither
    * the file nor a field. */
  def readFile(p: java.nio.file.Path): String =
    try java.nio.file.Files.readString(p)
    catch {
      case e: java.nio.charset.CharacterCodingException =>
        throw new IllegalStateException(
          s"$p is not valid UTF-8 (cut inside a character?): $e", e)
    }

  /** `s` as a JSON string literal, quotes included. */
  def quote(s: String): String =
    "\"" + String.valueOf(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** Strict read of one JSON object: `text` must hold exactly one object
    * and nothing after it. Truncated or malformed text, and a getter's
    * wrong type or out-of-range value, throw `error("$source: <why>")`
    * naming the field. Unknown keys are ignored. */
  def parse(source: String, text: String,
            error: String => RuntimeException = new IllegalArgumentException(_)): Obj = {
    def fail(why: String): Nothing = throw error(s"$source: $why")
    val p = factory.createParser(text)
    try {
      if (p.nextToken() != START_OBJECT) fail("not a JSON object")
      val fields = Map.newBuilder[String, Any]
      while (p.nextToken() == FIELD_NAME) {
        val k = p.currentName(); p.nextToken()
        fields += k -> value(p)
      }
      if (p.nextToken() != null) fail("trailing content after the object")
      new Obj(source, fields.result(), error)
    } catch {
      case e: JsonProcessingException =>
        val at = Option(p.currentName()).fold("its start")(n => s"field '$n'")
        fail(s"truncated or malformed JSON at $at: ${e.getOriginalMessage}")
    } finally p.close()
  }

  /** A scalar keeps its token's own text: numbers convert from it, so a
    * float reads back bit-exactly instead of narrowing from a double. */
  private final case class Scalar(token: JsonToken, text: String)
  /** A nested object: no record reads one, so it is checked and skipped. */
  private case object Nested

  private def value(p: JsonParser): Any = p.currentToken match {
    case START_OBJECT => p.skipChildren(); Nested
    case START_ARRAY =>
      val items = Vector.newBuilder[Any]
      while (p.nextToken() != END_ARRAY) items += value(p)
      items.result()
    case t => Scalar(t, p.getText)
  }

  /** One parsed object. Getters return None for an absent key. */
  final class Obj private[Json] (source: String, fields: Map[String, Any],
                                 error: String => RuntimeException) {
    def fail(why: String): Nothing = throw error(s"$source: $why")

    /** `get(k)`, failing with a named error when `k` is absent. */
    def need[T](k: String)(get: String => Option[T]): T =
      get(k).getOrElse(fail(s"missing field '$k'"))

    def long(k: String): Option[Long] = get(k, "an integer")(asLong(k))
    def int(k: String): Option[Int] = long(k).map(toInt(k))
    def double(k: String): Option[Double] = number(k)(_.toDoubleOption)
    def float(k: String): Option[Float] = number(k)(_.toFloatOption)
    def string(k: String): Option[String] =
      get(k, "a string") { case Scalar(VALUE_STRING, s) => s }
    def bool(k: String): Option[Boolean] =
      get(k, "a boolean") { case Scalar(t @ (VALUE_TRUE | VALUE_FALSE), _) => t == VALUE_TRUE }
    def ints(k: String): Option[Array[Int]] =
      get(k, "an integer array") { case vs: Vector[_] =>
        vs.map(v => toInt(k)(conv(k, "an integer array", v)(asLong(k)))).toArray }

    /** Every field, each of which must be a string. */
    def strings: Map[String, String] = fields.keySet.map(k => k -> need(k)(string)).toMap

    private def asLong(k: String): PartialFunction[Any, Long] = {
      case Scalar(VALUE_NUMBER_INT, s) =>
        s.toLongOption.getOrElse(fail(s"field '$k' is out of Long range: $s"))
    }
    private def number[T](k: String)(parse: String => Option[T]): Option[T] =
      get(k, "a number") { case Scalar(VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT, s) =>
        parse(s).getOrElse(fail(s"field '$k' is not a number: $s")) }
    private def toInt(k: String)(v: Long): Int =
      if (v.isValidInt) v.toInt else fail(s"field '$k' is out of Int range: $v")
    private def get[T](k: String, what: String)(f: PartialFunction[Any, T]): Option[T] =
      fields.get(k).map(conv(k, what, _)(f))
    private def conv[T](k: String, what: String, v: Any)(f: PartialFunction[Any, T]): T =
      f.applyOrElse(v, (_: Any) => fail(s"field '$k' is not $what: ${v match {
        case Scalar(_, s) => s
        case Nested => "an object"
        case _ => "an array"
      }}"))
  }
}
