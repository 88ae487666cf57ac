package graft.ops

import graft.core.Flags
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The uniform check combinator (reference `QCFlagConfig`, constructor
  * sites `src/main.py:535-541` … `751-758`; bool→flag mapping
  * `get_qc_flag_from_bool` `src/main.py:187-191`).
  *
  * Semantics: compute a boolean verdict per row; map true→`onTrue`,
  * false→`onFalse` (None = leave untouched), null verdict→`onNan`;
  * merge the verdict flag into the running flag column worst-wins
  * (`Series.combine(max)`, reference `src/main.py:573-575`).
  *
  * Spark-first: the whole combinator is a pure Column expression —
  * `greatest(flag, coalesce(when(...), onNan))` — so an arbitrarily long
  * chain of checks stays inside one whole-stage-codegen span with zero
  * UDFs and zero extra passes over the data.
  */
final case class QcCheck(
    label: String,
    verdict: Column, // boolean column: true = check failed
    onTrue: Byte,
    onFalse: Option[Byte] = None,
    onNan: Option[Byte] = None
) {

  /** The flag this check contributes (nullable: null = no opinion). */
  def flagCol: Column = {
    val base = onFalse match {
      case Some(f) => when(verdict, lit(onTrue)).when(!verdict, lit(f))
      case None    => when(verdict, lit(onTrue))
    }
    val withNan = onNan match {
      case Some(f) => when(verdict.isNull, lit(f)).otherwise(base)
      case None    => base
    }
    withNan.cast("tinyint")
  }

  /** Merge this check into an existing flag column. */
  def mergedInto(flag: Column): Column = Flags.worstWins(flag, flagCol)
}

object QcCheck {

  /** Generic bounds check (reference `get_bool_out_of_range`,
    * `src/main.py:723-744`, pinned `tests/test_qc.py:658-668`): value
    * outside (lo, hi) exclusive — boundary values are in-range (the
    * stabilization machine uses strict `>min & <max` for *within*,
    * reference `src/main.py:158-192`, so out-of-range at equality = false).
    * Null bounds or null value => null verdict (=> onNan path).
    */
  def outOfRange(value: Column, lo: Column, hi: Column): Column =
    (value < lo) || (value > hi)
}
