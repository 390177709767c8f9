package graft

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** graft's one JSON writer, on the Jackson that Spark ships: objects are
  * ordered maps (`ListMap`) or case classes, `None` renders as null, and
  * Jackson escapes every string. A number with fixed decimals goes
  * through [[dec]], so no output depends on the JVM's default locale.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` as one compact JSON line. */
  def apply(v: Any): String = mapper.writeValueAsString(v)

  /** A JSON object's fields (numbers as `java.lang.Number`). */
  def readObject(text: String): Map[String, Any] =
    mapper.readValue(text, classOf[Map[String, Any]])

  /** `v` with a space after each colon, and after each comma of a nested
    * object: the layout of Verify's oracle files.
    */
  def spaced(v: Any): String = mapper.writer(Spaced).writeValueAsString(v)

  /** `v` rounded half-up to `scale` decimals, as `%.3f` prints it in
    * `Locale.ROOT`; null when `v` is not finite.
    */
  def dec(v: Double, scale: Int = 3): java.math.BigDecimal =
    if (v.isNaN || v.isInfinite) null
    else java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP)

  private object Spaced extends MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit =
      g.writeRaw(if (g.getOutputContext.getParent.inRoot) "," else ", ")
  }
}
