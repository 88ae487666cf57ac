package graft

import graft.functions.{LangModel, Portable}

/** Bigram-LM scoring semantics on a hand-computable corpus + the
  * broadcast-model plan pin for t_lm_score. Integer-score parity with
  * DuckDB is pinned by the driver's oracle gate.
  */
class LangModelSpec extends SparkSpec {

  test("NLL matches a hand-computed add-one bigram model") {
    val s = spark; import s.implicits._
    // corpus: "a b" x3, "a c" x1  => c2(a,b)=3, c2(a,c)=1, c1(a)=4, V=3
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = LangModel.bigramNllScore(docs, "doc_id", "text", 10000L)
      .orderBy("doc_id").collect()
    val nllAB = Portable.log2q16Ref(4 + 3) - Portable.log2q16Ref(3 + 1)
    val nllAC = Portable.log2q16Ref(4 + 3) - Portable.log2q16Ref(1 + 1)
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L, 1L))
    assert(got.map(_.getLong(2)).toSeq == Seq(nllAB, nllAB, nllAB, nllAC))
    // log2(7/4) ~ 0.807, log2(7/2) ~ 1.807 bits
    assert(math.abs(nllAB / 65536.0 - (math.log(7.0 / 4) / math.log(2))) < 2e-4)
    assert(math.abs(nllAC / 65536.0 - (math.log(7.0 / 2) / math.log(2))) < 2e-4)
  }

  test("the rarer continuation costs more bits; repeated text costs fewer") {
    val s = spark; import s.implicits._
    val docs = (0L to 9L).map(i => (i, "the quick brown fox")) :+
      (10L, "the quick zzz fox")
    val got = LangModel.bigramNllScore(docs.toDF("doc_id", "text"),
        "doc_id", "text", 10000L)
      .select("doc_id", "nll_q16").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) > got(0L),
      s"the doc with the rare bigrams must score worse: $got")
  }

  test("docs without bigrams are kept with zero evidence") {
    val s = spark; import s.implicits._
    val docs = Seq((0L, "single"), (1L, ""), (2L, "two words"), (3L, "two words"))
      .toDF("doc_id", "text")
    val got = LangModel.bigramNllScore(docs, "doc_id", "text", 10000L)
      .orderBy("doc_id").collect()
    assert(got.length == 4)
    assert(got(0).getLong(1) == 0L && got(0).getBoolean(3))
    assert(got(1).getLong(1) == 0L && got(1).getBoolean(3))
    assert(got(2).getLong(1) == 1L)
  }

  test("threshold decision is the pure integer comparison") {
    val s = spark; import s.implicits._
    val docs = Seq((0L, "x y"), (1L, "x z z z z z x y"))
      .toDF("doc_id", "text")
    // with a 0 threshold nothing with evidence survives
    val strict = LangModel.bigramNllScore(docs, "doc_id", "text", 0L).collect()
    assert(strict.forall(r => r.getLong(1) == 0L || !r.getBoolean(3)))
    // with a huge threshold everything survives
    val loose = LangModel.bigramNllScore(docs, "doc_id", "text", 1000000L).collect()
    assert(loose.forall(_.getBoolean(3)))
  }

  test("Kneser-Ney: hand-computed rational matches; continuation prob " +
    "rewards versatile words over frequent-but-rigid ones") {
    val s = spark; import s.implicits._
    // corpus: "a b" x3, "a c", "d b"  =>
    //   c2: (a,b)=3 (a,c)=1 (d,b)=1; c1(a)=4 t1(a)=2; c1(d)=1 t1(d)=1
    //   tc(b)=2 tc(c)=1; T=3
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "a c"),
      (4L, "d b")).toDF("doc_id", "text")
    val got = LangModel.kneserNeyNllScore(docs, "doc_id", "text", 10000L)
      .orderBy("doc_id").collect()
    def nll(c2: Long, c1: Long, t1: Long, tc: Long, tt: Long): Long =
      Portable.log2q16Ref(4 * c1 * tt) -
        Portable.log2q16Ref(math.max(4 * c2 - 3, 0) * tt + 3 * t1 * tc)
    val ab = nll(3, 4, 2, 2, 3); val ac = nll(1, 4, 2, 1, 3)
    val db = nll(1, 1, 1, 2, 3)
    assert(got.map(_.getLong(2)).toSeq == Seq(ab, ab, ab, ac, db))
    // P(b|a) = (9*3 + 3*2*2)/(4*4*3) = 39/48; P(c|a) = (1*3+3*2*1)/48 = 9/48
    assert(math.abs(ab / 65536.0 + math.log(39.0 / 48) / math.log(2)) < 2e-4)
    assert(math.abs(ac / 65536.0 + math.log(9.0 / 48) / math.log(2)) < 2e-4)
    // d's whole mass is interpolation: P(b|d) = (1*3 + 3*1*2)/(4*1*3) = 9/12
    assert(math.abs(db / 65536.0 + math.log(9.0 / 12) / math.log(2)) < 2e-4)
  }

  test("t_lm_score plan: the model broadcasts; no corpus sort-merge join") {
    val p = SparkEntry.queries("t_lm_score")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"nll table must broadcast into the pair stream:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }
}
