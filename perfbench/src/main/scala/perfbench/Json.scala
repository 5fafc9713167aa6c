package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** A named measurement. Names are restricted so they need no escaping
  * anywhere, and all output goes through Jackson's serializer. */
final case class Metric(name: String, value: Double, unit: String) {
  require(Names.valid(name), s"bad metric name: $name")
  require(Names.validUnit(unit), s"bad unit: $unit")
}

object Names {
  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}".r
  def valid(s: String): Boolean = NamePattern.matches(s)
  def validUnit(s: String): Boolean = UnitPattern.matches(s)
}

object Json {
  val mapper = new ObjectMapper()

  def obj(): ObjectNode = mapper.createObjectNode()

  /** The result line: exactly correct, attempted, failed and metrics. */
  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[Metric]): ObjectNode = {
    val o = obj()
    o.put("correct", correct)
    o.put("attempted", attempted)
    o.put("failed", failed)
    val m = o.putObject("metrics")
    metrics.foreach { x =>
      require(!m.has(x.name), s"metric ${x.name} reported twice")
      require(!x.value.isNaN && !x.value.isInfinite, s"metric ${x.name} is ${x.value}")
      m.putObject(x.name).put("value", x.value).put("unit", x.unit)
    }
    o
  }

  def write(path: String, node: ObjectNode): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, node)
  }
}
