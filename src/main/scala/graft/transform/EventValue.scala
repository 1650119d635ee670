package graft.transform

import graft.json._
import scala.collection.immutable.VectorMap

/** Immutable event value threaded through the transform interpreter
  * (SURVEY §7.4). Context-attribute access rules mirror
  * /root/reference/server/trigger/util/event.go:31-156.
  */
final case class EventValue(
    id: String,
    source: String,
    specversion: String,
    etype: String,
    subject: Option[String],
    /** RFC3339 text, kept as the CE string form (types.Format). */
    time: Option[String],
    dataschema: Option[String],
    datacontenttype: Option[String],
    extensions: VectorMap[String, String],
    /** parsed JSON body; JNull when absent */
    data: JValue) {

  /** LookupAttribute (event.go:31-55): the eight context attributes by name,
    * then extensions. None ⇒ missing.
    */
  def lookupAttr(name: String): Option[String] = name match {
    case "id" => Some(id)
    case "source" => Some(source)
    case "specversion" => Some(specversion)
    case "type" => Some(etype)
    case "subject" => subject
    case "time" => time
    case "dataschema" => dataschema
    case "datacontenttype" => datacontenttype
    case ext => extensions.get(ext)
  }

  /** SetAttribute (event.go:85-156): id/source/type/subject/dataschema require
    * a string; time accepts RFC3339 text or an integer unix timestamp;
    * datacontenttype/specversion are immutable; extensions stringify.
    */
  def setAttr(name: String, value: JValue): Either[String, EventValue] = {
    def requireStr: Either[String, String] = value match {
      case JStr(s) => Right(s)
      case other => Left(s"attribute $name: value must be string, got ${JPath.typeName(other)}")
    }
    name match {
      case "id" => requireStr.map(s => copy(id = s))
      case "source" => requireStr.map(s => copy(source = s))
      case "type" => requireStr.map(s => copy(etype = s))
      case "subject" => requireStr.map(s => copy(subject = Some(s)))
      case "dataschema" => requireStr.map(s => copy(dataschema = Some(s)))
      case "time" => value match {
        case JStr(s) =>
          try { java.time.OffsetDateTime.parse(s); Right(copy(time = Some(s))) }
          catch { case _: Exception => Left(s"attribute time: not RFC3339: $s") }
        case JInt(epochSec) =>
          Right(copy(time = Some(java.time.Instant.ofEpochSecond(epochSec).toString)))
        case other => Left(s"attribute time: unsupported ${JPath.typeName(other)}")
      }
      case "datacontenttype" | "specversion" =>
        Left(s"attribute $name is immutable")
      case ext =>
        // extension names lowercase + validate like the CE SDK's
        // SetExtension (event_test.go:99-107: "Vanus" lands as "vanus",
        // "vanus.vanus" is an error) — same name rule Arg.validate
        // enforces at spec time (pkg/event.go:21-32: 1..20 chars, a-z0-9)
        val lower = ext.toLowerCase
        if (lower.isEmpty || lower.length > 20 ||
            !lower.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')))
          Left(s"extension name $ext invalid: 1..20 chars of [a-z0-9]")
        else
          VCast.toText(value).map(s => copy(extensions = extensions.updated(lower, s)))
    }
  }

  /** DeleteAttribute (event.go:147-156): only the four REQUIRED spec
    * attributes refuse; everything else is treated as an extension
    * delete — removing a missing extension SUCCEEDS (the reference
    * deletes from the map unconditionally), and deleting
    * subject/time/dataschema/datacontenttype is a silent NO-OP (they are
    * not in the extensions map, and the reference never clears them) —
    * a quirk, preserved deliberately for parity. The name is deleted RAW
    * (no lowercasing) — also the reference's behavior: SetExtension
    * lowercases on write, DeleteAttribute deletes the literal key, so
    * `deleteAttr("Vanus")` after `setAttr("Vanus", …)` is a no-op on
    * both sides (the map holds "vanus").
    */
  def deleteAttr(name: String): Either[String, EventValue] = name match {
    case "id" | "source" | "specversion" | "type" =>
      Left(s"attribute $name is required and cannot be deleted")
    case ext => Right(copy(extensions = extensions.removed(ext)))
  }
}

object EventValue {
  def simple(id: String, source: String, etype: String, dataJson: String,
      extensions: (String, String)*): EventValue =
    EventValue(id, source, "1.0", etype, None, None, None, Some("application/json"),
      VectorMap.from(extensions), JValue.parseOpt(dataJson).getOrElse(JNull))
}

/** Interpreter context: the event plus evaluated `define` bindings.
  * In ARRAY_FOREACH sub-pipelines the context is data-only (the reference
  * builds EventContext{Data: element} — foreach.go:31-65), so `event` is
  * None there and attribute args fail.
  */
final case class Ctx(event: Option[EventValue], defines: VectorMap[String, JValue], data: JValue)

object Ctx {
  def of(e: EventValue): Ctx = Ctx(Some(e), VectorMap.empty, e.data)
  def dataOnly(d: JValue): Ctx = Ctx(None, VectorMap.empty, d)
}
