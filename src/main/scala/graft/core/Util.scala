package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Small reference utilities that round out the §2 inventory. */
object Util {

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (<0x20) escaped — a tab or newline in SQL text or an
    * exception message would otherwise break a one-line JSON record.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A8 — `combine_dicts` (pinned reference `tests/test_qc.py:973-978`):
    * merge maps, ADDING overlapping values (numeric add, string concat).
    */
  def combineDicts[K](a: Map[K, Any], b: Map[K, Any]): Map[K, Any] =
    (a.keySet ++ b.keySet).map { k =>
      k -> ((a.get(k), b.get(k)) match {
        case (Some(x: Long), Some(y: Long)) => x + y
        case (Some(x: Int), Some(y: Int)) => x + y
        case (Some(x: Double), Some(y: Double)) => x + y
        case (Some(x: String), Some(y: String)) => x + y
        case (Some(x), None) => x
        case (None, Some(y)) => y
        case (Some(x), Some(y)) => throw new IllegalArgumentException(
          s"cannot combine $x with $y for key $k")
        case (None, None) => throw new IllegalStateException("unreachable")
      })
    }.toMap

  /** G7 — `find_nearest_idx` (reference `src/aums_data_request.py:204-209`,
    * pinned `tests/test_other.py:200-212`): 0-based index of the array
    * element nearest to `value` (first wins on ties).
    */
  def findNearestIdx(arr: Column, value: Column): Column = {
    val best = aggregate(
      zip_with(arr, sequence(lit(0), size(arr) - 1),
        (x, i) => struct(abs(x - value).as("d"), i.as("i"))),
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("i")),
      (acc, e) => when(e.getField("d") < acc.getField("d"), e).otherwise(acc))
    best.getField("i")
  }
}
