package graft.build

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The `meta.json` of an index directory: the analyzer name and global
  * stats, plus the keys only some writers set — `segSize`/`hasSegments`
  * (IndexBuilder.save/buildAndSave) and `nGroups` (Checkpoint). Absent
  * optional keys are not written. */
final case class IndexMeta(
    analyzer: String,
    stats: CorpusStats,
    segSize: Option[Int] = None,
    hasSegments: Option[Boolean] = None,
    nGroups: Option[Int] = None)

object IndexMeta {

  def write(dir: String, m: IndexMeta): Unit = {
    val fields =
      List("analyzer" -> JString(m.analyzer),
        "docCount" -> JInt(m.stats.docCount),
        "sumTotalTermFreq" -> JInt(m.stats.sumTotalTermFreq)) ++
        m.segSize.map(v => "segSize" -> JInt(v)) ++
        m.hasSegments.map(v => "hasSegments" -> JBool(v)) ++
        m.nGroups.map(v => "nGroups" -> JInt(v)) :+
        ("version" -> JInt(1))
    Files.writeString(Paths.get(dir, "meta.json"), JsonMethods.compact(JObject(fields)))
  }

  /** Read `dir/meta.json`; a missing, malformed or incomplete file raises
    * IllegalArgumentException naming the directory (and the key). */
  def read(dir: String): IndexMeta = {
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"$dir/meta.json: $what")
    val json =
      try JsonMethods.parse(Files.readString(Paths.get(dir, "meta.json")))
      catch { case scala.util.control.NonFatal(e) => fail(s"unreadable or malformed ($e)") }
    def opt[T](key: String)(get: PartialFunction[JValue, T]): Option[T] =
      json \ key match {
        case JNothing => None
        case v => Some(get.applyOrElse(v,
          (_: JValue) => fail(s"key '$key' has a bad value ${JsonMethods.compact(v)}")))
      }
    def req[T](key: String)(get: PartialFunction[JValue, T]): T =
      opt(key)(get).getOrElse(fail(s"missing key '$key'"))
    val long: PartialFunction[JValue, Long] = { case JInt(v) if v.isValidLong => v.toLong }
    val int: PartialFunction[JValue, Int] = { case JInt(v) if v.isValidInt => v.toInt }
    IndexMeta(
      analyzer = req("analyzer") { case JString(s) => s },
      stats = CorpusStats(req("docCount")(long), req("sumTotalTermFreq")(long)),
      segSize = opt("segSize")(int),
      hasSegments = opt("hasSegments") { case JBool(b) => b },
      nGroups = opt("nGroups")(int))
  }
}
