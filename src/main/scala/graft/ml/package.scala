package graft

import org.json4s._

package object ml {

  /** A JSON number as a `Double`; `None` for anything else. The one
    * number reader of every model's settings parser. */
  private[ml] def jNum(j: JValue): Option[Double] = j match {
    case JInt(x)     => Some(x.toDouble)
    case JLong(x)    => Some(x.toDouble)
    case JDouble(x)  => Some(x)
    case JDecimal(x) => Some(x.toDouble)
    case _           => None
  }
}
