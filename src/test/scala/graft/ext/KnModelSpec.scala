package graft.ext

import graft.SparkTestBase

/** The pruned-KN serving artifact ([[KnModel]]): export → parquet
  * round-trip → load → score must equal the in-memory pruned scorer
  * BIT-for-bit (the stored doubles are the scorer's own values), the
  * artifact stays vocabulary-bounded, and the load-side arms replay
  * back-off and OOV exactly. */
class KnModelSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val corpus = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text").limit(120).cache()

  private def scores(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq

  test("export → load → score is bit-identical to the in-memory pruned scorer") {
    val dir = tmpDir("knm-a")
    val eps = 1e-3
    KnModel.export(corpus, 2, eps, dir)
    assert(scores(KnModel.score(spark, dir, corpus)) ==
      scores(NgramLM.knPrunedLogLik(corpus, corpus, 2, eps)),
      "the artifact loop must not move a single bit")
    // the artifact is the bounded deployment surface: entries = the
    // kept set, one backoff row per seen history, one cont row per
    // continuation word
    val Seq(e, b, c) = KnModel.sizes(spark, dir)
    val ent = NgramLM.knPruneEntries(corpus, 2, eps)
      .select("kept").as[Boolean].collect()
    assert(e == ent.count(identity).toLong)
    assert(ent.exists(!_), "the fixture prune must bite")
    val c12 = NgramLM.corpusNgrams(corpus, 2)
      .as[(String, String, Long)].collect()
    assert(b == c12.map(_._1).distinct.length.toLong)
    assert(c == c12.map(_._2).distinct.length.toLong)
  }

  test("eps = 0 artifact reproduces the UNpruned model's scores") {
    val dir = tmpDir("knm-0")
    KnModel.export(corpus, 2, 0.0, dir)
    assert(scores(KnModel.score(spark, dir, corpus)) ==
      scores(NgramLM.knLogLik(corpus, corpus, 2)),
      "γ must reduce to the original back-off weight when nothing prunes")
  }

  test("load-side arms: back-off, unseen history, and OOV replay exactly") {
    // train on a closed corpus, score probes that hit every arm
    val train = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"), (4L, "a b a c"))
      .toDF("doc_id", "text")
    val dir = tmpDir("knm-arms")
    KnModel.export(train, 2, 1e9, dir) // prune everything: γ = 1 everywhere
    val probes = Seq(
      (1L, "a b"),  // seen history, pruned entry → γ·pcont = pcont
      (2L, "z a"),  // unseen history → pcont
      (3L, "a z")   // z never a continuation → OOV
    ).toDF("doc_id", "text")
    val got = scores(KnModel.score(spark, dir, probes))
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val cont = NgramLM.corpusNgrams(train, 2)
      .as[(String, String, Long)].collect()
    val bTot = cont.size.toDouble
    def pcont(w: String) = cont.count(_._2 == w) / bTot
    assert(got == Seq(
      (1L, 1L, 0L, r4(math.log(pcont("b")))),
      (2L, 1L, 0L, r4(math.log(pcont("a")))),
      (3L, 1L, 1L, 0.0)), s"arm mismatch: $got")
  }

  // ---- the TRIGRAM artifact (q210): the q209 contract at order 3 ----

  test("trigram export → load → score is bit-identical to the in-memory pruned scorer") {
    val dir = tmpDir("knm3-a")
    val eps = 1e-4
    KnModel.export(corpus, 3, eps, dir)
    assert(scores(KnModel.score(spark, dir, corpus)) ==
      scores(NgramLM.knPrunedLogLik(corpus, corpus, 3, eps)),
      "the trigram artifact loop must not move a single bit")
    // bounded sizes: entries = the kept set; one backoff12 row per seen
    // (w1,w2); mid/backoff2/cont are the continuation-bigram table and
    // its two margins
    val Seq(e, b12, m, b2, c) = KnModel.sizes(spark, dir)
    val ent = NgramLM.knPruneEntries(corpus, 3, eps)
      .select("kept").as[Boolean].collect()
    assert(e == ent.count(identity).toLong)
    assert(ent.exists(!_), "the fixture prune must bite at order 3")
    assert(ent.exists(identity), "the fixture prune must keep something")
    val c123 = NgramLM.corpusNgrams(corpus, 3)
      .as[(String, String, String, Long)].collect()
    assert(b12 == c123.map(t => (t._1, t._2)).distinct.length.toLong)
    assert(m == c123.map(t => (t._2, t._3)).distinct.length.toLong)
    assert(b2 == c123.map(_._2).distinct.length.toLong)
    assert(c == c123.map(_._3).distinct.length.toLong)
  }

  test("trigram eps = 0 artifact reproduces the UNpruned kn3 scores") {
    val dir = tmpDir("knm3-0")
    KnModel.export(corpus, 3, 0.0, dir)
    assert(scores(KnModel.score(spark, dir, corpus)) ==
      scores(NgramLM.knLogLik(corpus, corpus, 3)),
      "γ3 must reduce to the original back-off weight when nothing prunes")
  }

  test("trigram load-side arms replay the in-memory scorer on cross-scored probes") {
    // every serving arm, pinned bit-for-bit against the in-memory
    // scorer on docs ≠ train: kept entry, pruned entry under a seen
    // history (γ3·pMid), unseen (w1,w2) with seen (w2,w3) (pMid
    // directly), seen w2 with unseen (w2,w3) (bow·pcont), unseen w2
    // (pcont), and an OOV w3
    val train = Seq((1L, "a b c"), (2L, "b c a"), (3L, "a b d"),
      (4L, "c a b c d"), (5L, "d a b")).toDF("doc_id", "text")
    for (eps <- Seq(1e-9, 1e-2, 1e9)) {
      val dir = tmpDir(s"knm3-arms-$eps")
      KnModel.export(train, 3, eps, dir)
      val probes = Seq(
        (1L, "a b c"),  // explicit entry (kept at small eps, pruned at 1e9)
        (2L, "z b c"),  // unseen (z,b) history, seen (b,c) continuation
        (3L, "a c d"),  // seen history (c,a)? — (a,c) unseen → pLow path
        (4L, "b c z"),  // z never a continuation → OOV
        (5L, "z z a")   // unseen mid-history w2 = z → pcont(a)
      ).toDF("doc_id", "text")
      val got = scores(KnModel.score(spark, dir, probes))
      val want = scores(NgramLM.knPrunedLogLik(probes, train, 3, eps))
      assert(got == want, s"arm mismatch at eps=$eps: $got vs $want")
      assert(got.exists(_._3 > 0), "an OOV probe must exercise the null arm")
    }
  }

  test("scoreAny detects the artifact order and normalizes the schema") {
    val d2 = tmpDir("knm-any2"); val d3 = tmpDir("knm-any3")
    val d4 = tmpDir("knm-any4")
    KnModel.export(corpus, 2, 1e-3, d2)
    KnModel.export(corpus, 3, 1e-4, d3)
    KnModel.export(corpus, 4, 3e-5, d4)
    assert(KnModel.order(d2) == 2 && KnModel.order(d3) == 3 &&
      KnModel.order(d4) == 4)
    for (d <- Seq(d2, d3, d4))
      assert(KnModel.scoreAny(spark, d, corpus).columns.toSeq ==
        Seq("doc_id", "n_grams", "n_oov", "avg_lp"))
    assert(scores(KnModel.scoreAny(spark, d3, corpus)) ==
      scores(NgramLM.knPrunedLogLik(corpus, corpus, 3, 1e-4)))
  }

  test("order() raises a typed error on a dir carrying no entries table (r16)") {
    // ADVICE r15: the old java.io.File probe silently defaulted a bad
    // (or non-local) path to order 2 and then failed with a confusing
    // parquet error downstream; existence now resolves through the
    // Hadoop FileSystem and a model-less dir names itself in the error
    val e = intercept[IllegalArgumentException] {
      KnModel.order(tmpDir("knm-empty"))
    }
    assert(e.getMessage.contains("no KN model artifact"))
    // a scheme-qualified local URI resolves through the same FS API
    val d3 = tmpDir("knm-uri")
    KnModel.export(corpus, 3, 1e-4, d3)
    assert(KnModel.order("file://" + d3) == 3)
  }

  // ---- the 4-GRAM artifact (q218): the q210 contract at order 4 ----

  test("4-gram export → load → score is bit-identical to the in-memory pruned scorer") {
    val dir = tmpDir("knm4-a")
    // prune at the corpus's median loss so BOTH arms are real on the
    // small fixture (a production eps keeps nearly everything here)
    val losses = NgramLM.knPruneEntries(corpus, 4, 0.0)
      .select("loss").as[Double].collect().sorted
    val eps = losses(losses.length / 2)
    KnModel.export(corpus, 4, eps, dir)
    assert(scores(KnModel.score(spark, dir, corpus)) ==
      scores(NgramLM.knPrunedLogLik(corpus, corpus, 4, eps)),
      "the 4-gram artifact loop must not move a single bit")
    val Seq(e, b123, m3, b23, m2, b2, c) = KnModel.sizes(spark, dir)
    val ent = NgramLM.knPruneEntries(corpus, 4, eps)
      .select("kept").as[Boolean].collect()
    assert(e == ent.count(identity).toLong)
    assert(ent.exists(!_) && ent.exists(identity),
      "the fixture prune must split")
    val c1234 = NgramLM.corpusNgrams(corpus, 4)
      .as[(String, String, String, String, Long)].collect()
    assert(b123 == c1234.map(t => (t._1, t._2, t._3)).distinct.length.toLong)
    assert(m3 == c1234.map(t => (t._2, t._3, t._4)).distinct.length.toLong)
    assert(b23 == c1234.map(t => (t._2, t._3)).distinct.length.toLong)
    assert(m2 == c1234.map(t => (t._3, t._4)).distinct.length.toLong)
    assert(b2 == c1234.map(_._3).distinct.length.toLong)
    assert(c == c1234.map(_._4).distinct.length.toLong)
  }

  test("4-gram eps = 0 artifact reproduces the UNpruned kn4 scores") {
    val dir = tmpDir("knm4-0")
    KnModel.export(corpus, 4, 0.0, dir)
    assert(scores(KnModel.score(spark, dir, corpus)) ==
      scores(NgramLM.knLogLik(corpus, corpus, 4)),
      "γ4 must reduce to the original back-off weight when nothing prunes")
  }

  test("4-gram load-side arms replay the in-memory scorer on cross-scored probes") {
    val train = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "b b c d"),
      (4L, "c a b c d e")).toDF("doc_id", "text")
    for (eps <- Seq(1e-9, 1e9)) {
      val dir = tmpDir(s"knm4-arms-$eps")
      KnModel.export(train, 4, eps, dir)
      val probes = Seq(
        (1L, "a b c d"),  // explicit entry (kept at tiny eps, pruned at 1e9)
        (2L, "z b c d"),  // unseen top history, seen (b,c,d) mid3
        (3L, "z z c d"),  // unseen (w2,w3) too — mid2 path
        (4L, "z z z d"),  // unseen w3 — pcont path
        (5L, "a b c z")   // z never a continuation → OOV
      ).toDF("doc_id", "text")
      val got = scores(KnModel.score(spark, dir, probes))
      val want = scores(NgramLM.knPrunedLogLik(probes, train, 4, eps))
      assert(got == want, s"arm mismatch at eps=$eps: $got vs $want")
      assert(got.exists(_._3 > 0), "an OOV probe must exercise the null arm")
    }
  }
}
