package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** JSON for the result lines and the recorded outputs, through the
  * Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  /** A JSON object with its keys in the given order; values are numbers,
    * booleans, strings, null or nested [[Obj]]s. */
  final case class Obj(kv: Seq[(String, Any)]) {
    def text: String = mapper.writeValueAsString(toJava(this))
  }

  def obj(kv: Seq[(String, Any)]): Obj = Obj(kv)

  private def toJava(v: Any): AnyRef = v match {
    case Obj(kv) =>
      val m = new java.util.LinkedHashMap[String, AnyRef]
      kv.foreach { case (k, x) => m.put(k, toJava(x)) }
      m
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d in result")
      Double.box(d)
    case x => x.asInstanceOf[AnyRef]
  }

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}

/** Output values recorded from earlier runs (see `Record`). */
object Expected {
  final case class ClipDigests(clips: Long, digests: Map[Long, String])

  def clipDigests(benchDir: String): ClipDigests = {
    val j = Json.read(s"$benchDir/expected/clip_pipeline.json")
    val d = j.get("digests")
    val m = d.fieldNames().asScala.map(k => k.toLong -> d.get(k).asText()).toMap
    ClipDigests(j.get("clips").asLong(), m)
  }

  def suite(benchDir: String): Map[String, (Long, String)] = {
    val q = Json.read(s"$benchDir/expected/query_suite.json").get("queries")
    q.fieldNames().asScala.map { k =>
      k -> (q.get(k).get("rows").asLong(), q.get(k).get("digest").asText())
    }.toMap
  }

}
