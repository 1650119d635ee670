package graft.transform

import graft.json._

/** Lenient cast rules of the transform layer, mirrored from
  * /root/reference/pkg/transform/common/cast.go:25-125 (SURVEY §1.3, §7.5).
  * Centralized so no action accidentally falls back to ANSI Cast semantics.
  */
object VCast {

  /** cast.go String branch: numbers via Go %v (integral floats print bare),
    * bools "true"/"false", maps/arrays JSON-marshaled.
    */
  def toText(v: JValue): Either[String, String] = v match {
    case JStr(s) => Right(s)
    case JInt(i) => Right(i.toString)
    case JDouble(d) => Right(JValue.numToString(d))
    case JBool(b) => Right(b.toString)
    case o: JObj => Right(o.render)
    case a: JArr => Right(a.render)
    case JNull => Right("null")
  }

  /** cast.go Float branch: numeric strings parse, ints widen. */
  def toFloat(v: JValue): Either[String, Double] = v match {
    case JDouble(d) => Right(d)
    case JInt(i) => Right(i.toDouble)
    case JStr(s) =>
      try Right(s.trim.toDouble)
      catch { case _: NumberFormatException => Left(s"cannot cast from String value $s to Float") }
    case other => Left(s"undefined cast from ${JPath.typeName(other)} to Float")
  }

  /** cast.go Int branch: strict integer parse for strings (a float string is
    * an error), floats truncate toward zero (Go int conversion).
    */
  def toInt(v: JValue): Either[String, Long] = v match {
    case JInt(i) => Right(i)
    case JDouble(d) => Right(d.toLong)
    case JStr(s) =>
      try Right(s.trim.toLong)
      catch { case _: NumberFormatException => Left(s"cannot cast from String value $s to Int") }
    case other => Left(s"undefined cast from ${JPath.typeName(other)} to Int")
  }

  /** cast.go StringArray branch: scalars lift to 1-element arrays; array
    * elements each cast to string. Bools are NOT accepted (mirrors the
    * missing bool case in the reference).
    */
  def toStringArray(v: JValue): Either[String, Vector[String]] = v match {
    case JStr(s) => Right(Vector(s))
    case JInt(_) | JDouble(_) => toText(v).map(Vector(_))
    case JArr(items) =>
      items.foldLeft[Either[String, Vector[String]]](Right(Vector.empty)) {
        case (Left(e), _) => Left(e)
        case (Right(acc), it) => toText(it).map(acc :+ _)
      }
    case other => Left(s"undefined cast from ${JPath.typeName(other)} to StringArray")
  }

  /** cast.go Array branch: scalars lift; arrays pass through. */
  def toArray(v: JValue): Either[String, Vector[JValue]] = v match {
    case JArr(items) => Right(items)
    case JStr(_) | JInt(_) | JDouble(_) | JBool(_) => Right(Vector(v))
    case other => Left(s"undefined cast from ${JPath.typeName(other)} to Array")
  }
}
