package graft

import graft.core.Flags
import org.apache.spark.sql.functions._
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => SCTest}

/** Flag algebra semantics (reference `README.adoc:172-175`,
  * `src/main.py:151,454`; pinning tests `tests/test_qc.py:184-195`):
  * severity order is declaration order, merge is worst-wins with
  * null ≡ NO_QUALITY_CONTROL.
  */
class FlagsSpec extends SparkSpec {
  import spark.implicits._

  test("severity order: NQC < GOOD < PROBABLY_GOOD < PROBABLY_BAD < BAD") {
    assert(Flags.NoQc < Flags.Good && Flags.Good < Flags.ProbablyGood &&
      Flags.ProbablyGood < Flags.ProbablyBad && Flags.ProbablyBad < Flags.Bad)
  }

  test("wire code <-> rank maps are inverse and cover L20 codes") {
    Flags.wireToRank.foreach { case (w, r) => assert(Flags.rankToWire(r) == w) }
    assert(Flags.wireToRank.keySet == Set(0, 1, 2, 3, 4, 9))
  }

  test("worst-wins merge: greatest with null = NQC (src/main.py:151)") {
    val df = Seq[(Option[Int], Option[Int])](
      (Some(1), Some(4)), (Some(3), Some(2)), (None, Some(2)), (None, None))
      .toDF("a", "b")
      .select(Flags.worstWins(col("a").cast("tinyint"), col("b").cast("tinyint")).as("m"))
    assert(df.collect().map(_.getByte(0)).toSeq == Seq(4, 3, 2, 0))
  }

  test("worst-wins is associative, commutative, NQC-identity (property)") {
    val gen = Gen.option(Gen.choose[Byte](0, 5))
    def m(a: Option[Byte], b: Option[Byte]): Byte =
      math.max(a.getOrElse(0: Byte).toInt, b.getOrElse(0: Byte).toInt).toByte
    val prop = forAll(gen, gen, gen) { (a, b, c) =>
      m(a, Some(m(b, c))) == m(Some(m(a, b)), c) && m(a, b) == m(b, a) &&
        m(a, Some(Flags.NoQc)) == a.getOrElse(0: Byte)
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("wire->rank->wire column roundtrip") {
    val df = Seq(0, 1, 2, 3, 4, 9).map(Flags.wireToRank).toDF("rank")
      .select(Flags.rankToWireCol(col("rank")).as("rt"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3, 4, 9))
  }
}
