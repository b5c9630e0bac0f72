package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class LmScoreSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // reference: "a b a b c" -> unigrams a:2 b:2 c:1 (N=5, V=3)
  //            bigrams (a,b):2 (b,a):1 (b,c):1
  private def ref = {
    import spark.implicits._
    Seq((100L, "a b a b c")).toDF("doc_id", "text")
  }

  private def score(text: String): (Long, Double) = {
    import spark.implicits._
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = LmScore.scoreStupidBackoff(docs, ref, "doc_id", "text").collect()
    assert(r.length == 1)
    (r(0).getLong(1), r(0).getDouble(2))
  }

  test("seen bigrams score c2/c1(prev)") {
    // "a b c": (a,b) -> 2/2 = 1.0; (b,c) -> 1/2
    val (n, lp) = score("a b c")
    assert(n == 2L)
    assert(math.abs(lp - (math.log10(1.0) + math.log10(0.5)) / 2) < 1e-12)
  }

  test("unseen bigram of seen words backs off to alpha*(c(w)+1)/(N+V)") {
    // "c a": bigram (c,a) unseen; c(a)=2 -> 0.4 * 3/8
    val (n, lp) = score("c a")
    assert(n == 1L)
    assert(math.abs(lp - math.log10(0.4 * 3.0 / 8.0)) < 1e-12)
  }

  test("OOV token takes the add-one floor") {
    // "a zzz": bigram unseen, c(zzz)=0 -> 0.4 * 1/8
    val (_, lp) = score("a zzz")
    assert(math.abs(lp - math.log10(0.4 / 8.0)) < 1e-12)
  }

  test("broadcast-kernel path is equivalent to the join path") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val words = Vector("a", "b", "c", "zz", "the", "x1")
    val docs = (0 until 60).map(i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(12))(words(rnd.nextInt(words.size)))
        .mkString(" "))).toDF("doc_id", "text")
    val model = LmScore.trainStupidBackoff(ref, "text")
    val a = LmScore.scoreWithModel(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val b = LmScore.scoreWithBroadcastModel(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    for ((k, (n, lp)) <- a) {
      assert(b(k)._1 == n)
      assert(math.abs(b(k)._2 - lp) < 1e-12, s"doc $k")
    }
    // and the size gate picks the kernel path without changing results
    val c = LmScore.scoreAuto(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == a.view.mapValues(_._1).toMap)
  }

  test("documents with < 2 tokens are absent; case folds; alpha honored") {
    import spark.implicits._
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "A B")).toDF("doc_id", "text")
    val r = LmScore.scoreStupidBackoff(docs, ref, "doc_id", "text", alpha = 0.1)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r.keySet == Set(3L)) // "A B" tokenizes to (a,b), a seen bigram
    assert(math.abs(r(3L) - math.log10(1.0)) < 1e-12)
    val oov = LmScore.scoreStupidBackoff(
      Seq((9L, "zz yy")).toDF("doc_id", "text"), ref, "doc_id", "text", alpha = 0.1)
      .collect()(0).getDouble(2)
    assert(math.abs(oov - math.log10(0.1 / 8.0)) < 1e-12)
  }

  test("broadcast path rejects a bigram token missing from the unigram table") {
    import spark.implicits._
    val model = LmScore.trainStupidBackoff(ref, "text")
    val stray = Seq(("a", "qq", 1L, 2L)).toDF("prev", "w", "c2", "c1_prev")
    val bad = model.copy(bigModel = model.bigModel.unionByName(stray))
    val docs = Seq((1L, "a qq")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LmScore.scoreWithBroadcastModel(docs, bad, "doc_id", "text")
    }
    assert(e.getMessage.contains("(a, qq)"))
  }
}
