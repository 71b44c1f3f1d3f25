package graft

import com.fasterxml.jackson.core.{JsonParseException, JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** The engine's one JSON codec.
  *
  * Writes are assembled as strings; every text goes through [[escape]]:
  * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * builder-authored SQL would otherwise break the driver's json.load and
  * silently zero a round's correctness.
  *
  * Reads go through [[mapper]], the Jackson that ships with Spark, so no
  * module scans JSON syntax itself. Jackson's default read limits apply
  * (1000 nesting levels, 20 M-character strings, 1000-digit numbers),
  * nothing may follow the document, and a malformed body fails with
  * Jackson's error, which gives the line and column.
  */
object JsonUtil {
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def str(s: String): String = "\"" + escape(s) + "\""

  /** A sink row's field value as JSON: numbers and booleans bare, null as
    * `null`, timestamps, dates and anything else as their quoted
    * `toString`.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case other => str(other.toString)
  }

  /** The shared reader; thread-safe, never reconfigured after this. */
  val mapper: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  def tree(json: String): JsonNode = mapper.readTree(json)

  /** `n` as a whole number, or an error that `what` names. */
  def whole(n: JsonNode, what: => String): Long =
    if (n.isIntegralNumber && n.canConvertToLong) n.longValue
    else throw new IllegalArgumentException(
      s"$what: expected a whole number, got $n")

  /** The objects of a JSON array, each as field name → value text: a
    * string is its unescaped value, `null` is None, and any other value
    * is its exact text slice, so a payload is never re-serialized and a
    * long number keeps every digit. With `raw`, strings and `null` keep
    * their exact slices too. The array is the document, or with `field`
    * the value of that field of an object document, whose other fields
    * are skipped.
    */
  def objectSlices(json: String, field: Option[String] = None,
      raw: Boolean = false): Seq[Map[String, Option[String]]] = {
    val p = mapper.createParser(json)
    try {
      def fail(what: String) = throw new JsonParseException(p,
        s"expected $what, got ${p.currentToken}")
      // skips fields up to the one named `stopAt`, or to the object's end
      def skipFields(stopAt: Option[String]): Unit =
        while (p.nextToken() == JsonToken.FIELD_NAME &&
            !stopAt.contains(p.currentName)) { p.nextToken(); p.skipChildren() }
      field.foreach { f =>
        if (p.nextToken() != JsonToken.START_OBJECT) fail("an object")
        skipFields(field)
        if (p.currentToken != JsonToken.FIELD_NAME) fail(s"field '$f'")
      }
      if (p.nextToken() != JsonToken.START_ARRAY) fail("an array")
      val out = Seq.newBuilder[Map[String, Option[String]]]
      while (p.nextToken() == JsonToken.START_OBJECT) {
        val fs = Map.newBuilder[String, Option[String]]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName
          p.nextToken()
          fs += name -> slice(p, json, raw)
        }
        out += fs.result()
      }
      if (p.currentToken != JsonToken.END_ARRAY) fail("an object or ']'")
      if (field.nonEmpty) skipFields(None)
      if (p.nextToken() != null) fail("the end of the document")
      out.result()
    } finally p.close()
  }

  private def slice(p: JsonParser, json: String, raw: Boolean)
      : Option[String] = p.currentToken match {
    case JsonToken.VALUE_NULL if !raw => None
    case JsonToken.VALUE_STRING if !raw => Some(p.getText)
    case _ =>
      val from = p.currentTokenLocation().getCharOffset.toInt
      p.skipChildren()
      p.finishToken()
      Some(json.substring(from, p.currentLocation().getCharOffset.toInt))
  }
}
