package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Caches, TextOps}

/** Generated-corpus properties for the classifier chain: the distributed
  * batch-perceptron trainer must equal a driver-side reference
  * implementation on random labeled corpora, the two inference forms
  * must agree everywhere, and the logit must be linear in the bag of
  * words. Fixed seeds keep runs reproducible.
  */
class ClassifierPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val NB = 32

  private def bucketOf(t: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      .substring(0, 15), 16) % NB

  private val corpusGen: Gen[List[(Long, String, Int)]] = for {
    nDocs <- Gen.choose(4, 10)
    docs <- Gen.listOfN(nDocs, for {
      nTok <- Gen.choose(1, 8)
      toks <- Gen.listOfN(nTok, Gen.oneOf((1 to 12).map(i => s"w$i")))
      y <- Gen.oneOf(1, -1)
    } yield (toks.mkString(" "), y))
  } yield docs.zipWithIndex.map { case ((t, y), i) => (i.toLong, t, y) }

  test("perceptronTrain equals a driver-side reference perceptron on random corpora") {
    val samples = (1 to 8).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default, Seed(97L + i)))
    assert(samples.size >= 6)
    samples.foreach { docs =>
      val trained = TextOps.perceptronTrain(
          docs.toDF("doc_id", "text", "y"), nBuckets = NB, rounds = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Caches.releaseAll()
      // reference: same bucketization, same batch update, same rounds
      val feats = docs.map { case (_, text, y) =>
        (y.toLong, text.split(" ").toSeq.groupBy(bucketOf).map {
          case (b, ts) => b -> ts.size.toLong })
      }
      var w = Map.empty[Long, Long].withDefaultValue(0L)
      var r = 0
      var converged = false
      while (r < 5 && !converged) {
        val mis = feats.filter { case (y, f) =>
          val logit = f.map { case (b, c) => c * w(b) }.sum
          (logit >= 0) != (y > 0)
        }
        if (mis.isEmpty) converged = true
        else {
          mis.foreach { case (y, f) =>
            f.foreach { case (b, c) => w += b -> (w(b) + y * c) } }
          r += 1
        }
      }
      val want = w.filter(_._2 != 0L)
      assert(trained == want, s"docs=$docs\ntrained=$trained\nwant=$want")
    }
  }

  test("the two inference forms agree and the logit is linear in the bag of words") {
    val wGen: Gen[Map[Long, Long]] = Gen.listOfN(NB / 2,
      Gen.zip(Gen.choose(0L, NB - 1L), Gen.choose(-50L, 50L))).map(_.toMap)
    val samples = (1 to 6).flatMap { i =>
      for {
        docs <- corpusGen.apply(Gen.Parameters.default, Seed(201L + i))
        w <- wGen.apply(Gen.Parameters.default, Seed(301L + i))
      } yield (docs, w)
    }
    assert(samples.size >= 4)
    samples.foreach { case (docs, wMap) =>
      val df = docs.map(d => (d._1, d._2)).toDF("doc_id", "text")
      val bias = 7L
      val a = TextOps.hashedLinearScore(df, wMap.toSeq.toDF("bucket", "w_micros"),
          nBuckets = NB, biasMicros = bias)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = TextOps.linearScore(df, wMap, nBuckets = NB, biasMicros = bias)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(a == b, s"forms diverged on $docs with $wMap")
      // linearity: logit(d1 ++ d2) − bias = (logit(d1) − bias) + (logit(d2) − bias)
      if (docs.size >= 2) {
        val cat = Seq((0L, docs(0)._2 + " " + docs(1)._2)).toDF("doc_id", "text")
        val catLogit = TextOps.linearScore(cat, wMap, nBuckets = NB,
          biasMicros = bias).collect().head.getLong(2)
        val l0 = b(0)(2).asInstanceOf[Long]
        val l1 = b(1)(2).asInstanceOf[Long]
        assert(catLogit - bias == (l0 - bias) + (l1 - bias),
          s"logit not linear: $catLogit vs $l0 + $l1 (bias $bias)")
      }
    }
  }
}
