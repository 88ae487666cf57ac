package graft

import graft.functions.Pca
import org.scalatest.matchers.should.Matchers

class PcaSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def mkVec(f: Int => Float): Array[Float] = Array.tabulate(64)(f)

  test("homogeneous scatter: last row carries sums and count") {
    val df = Seq(
      (1L, mkVec(d => if (d == 0) 0.5f else 0.0f)),
      (2L, mkVec(d => if (d == 0) -0.25f else if (d == 1) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val p = Pca.scatterUpper(df, "embedding", 64).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(p((64, 64)) == 2L)                       // n
    // sums: q(0.5)=8192, q(-0.25)=-4096 → s_0 = 4096; s_1 = 16384
    assert(p((0, 64)) == 8192L - 4096L)
    assert(p((1, 64)) == 16384L)
    // raw second moments: P_00 = 8192² + 4096², cross P_01 = -4096·16384
    assert(p((0, 0)) == 8192L * 8192L + 4096L * 4096L)
    assert(p((0, 1)) == -4096L * 16384L)
  }

  test("leading eigenvector recovers a planted dominant axis") {
    // variance concentrated on dim 3 (spread ±large), tiny noise on dim 7
    val rows = (0 until 40).map { i =>
      val t = (i - 20) * 0.04f           // ±0.8 along dim 3
      val eps = (i % 3 - 1) * 0.01f      // ±0.01 along dim 7
      (i.toLong, mkVec(d => if (d == 3) t else if (d == 7) eps else 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (v, m, n) = Pca.leadingEigen(df, "embedding", 64, rounds = 24)
    assert(n == 40L)
    assert(v(3) == Pca.VScale)            // dominant axis at max scale
    assert(math.abs(v(7)) < Pca.VScale / 8) // noise axis stays minor
    assert((0 until 64).forall(d => d == 3 || d == 7 || v(d) == 0L))
    // sign convention: first nonzero component positive
    assert(v.find(_ != 0L).get > 0L)
    // projections are monotone in t (up to the quantization grid)
    val proj = df.select($"vec_id",
        Pca.project(df, "embedding", v, m).as("proj"))
      .orderBy($"vec_id").collect().map(_.getLong(1))
    proj.toSeq shouldBe proj.toSeq.sorted
  }

  test("degenerate constant corpus: zero covariance keeps the seed vector") {
    val df = (0 until 5).map(i => (i.toLong, mkVec(_ => 0.125f)))
      .toDF("vec_id", "embedding")
    val (v, _, _) = Pca.leadingEigen(df, "embedding", 64, rounds = 8)
    assert(v.forall(_ == Pca.VScale)) // mx == 0 every round → seed survives
  }
}
