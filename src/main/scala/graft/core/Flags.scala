package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Ordered quality-flag algebra.
  *
  * The reference keeps per-observation flags as an *ordered categorical*
  * following the NERC L20 vocabulary (reference `README.adoc:172-175`,
  * `src/main.py:373,539`): the severity order is the enum **declaration
  * order**, not the numeric wire code, and flag merging is worst-wins
  * (`Series.combine(other, max)`, reference `src/main.py:151,454`).
  *
  * Spark-first design: flags are stored as a ByteType **rank** so that
  * `greatest(...)` IS the worst-wins merge — a codegen'd primitive
  * comparison, no UDF, no categorical machinery. The L20 wire code is
  * mapped at the edges only.
  */
object Flags {

  // Severity ranks (internal representation). Order of declaration =
  // severity order: NQC < GOOD < PROBABLY_GOOD < PROBABLY_BAD < BAD.
  val NoQc: Byte = 0
  val Good: Byte = 1
  val ProbablyGood: Byte = 2
  val ProbablyBad: Byte = 3
  val Bad: Byte = 4
  val Missing: Byte = 5 // pivot-path fill for absent observations

  /** L20 wire codes (what `resultQuality` carries on the wire / in CSVs):
    * 0=NQC, 1=GOOD, 2=PROBABLY_GOOD, 3=PROBABLY_BAD, 4=BAD, 9=MISSING.
    * Note wire code and severity rank coincide for 0-4 but NOT for 9,
    * and the ordering guarantee comes from the rank, never the code.
    */
  val wireToRank: Map[Int, Byte] =
    Map(0 -> NoQc, 1 -> Good, 2 -> ProbablyGood, 3 -> ProbablyBad, 4 -> Bad, 9 -> Missing)
  val rankToWire: Map[Byte, Int] = wireToRank.map(_.swap)

  /** Severity rank column -> wire L20 code column. */
  def rankToWireCol(rank: Column): Column = {
    val init: Column = lit(null).cast("int")
    rankToWire.foldLeft(init) { case (acc, (r, w)) =>
      when(rank === lit(r), lit(w)).otherwise(acc)
    }
  }

  /** Worst-wins merge of any number of flag-rank columns; null flags are
    * treated as NO_QUALITY_CONTROL (reference `combine(max, fill_value=NQC)`,
    * `src/main.py:151`). Pure `greatest` — associative and commutative,
    * so Catalyst may freely reorder independent checks.
    */
  def worstWins(flags: Column*): Column =
    greatest(flags.map(f => coalesce(f, lit(NoQc).cast("tinyint"))): _*).cast("tinyint")
}
