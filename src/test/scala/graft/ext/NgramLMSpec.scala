package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class NgramLMSpec extends SparkTestBase {
  import spark.implicits._

  test("docBigrams: adjacent pairs with counts; <2-token docs contribute nothing") {
    val docs = Seq((1L, "a b a b"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val got = NgramLM.docNgrams(docs, 2)
      .as[(Long, String, String, Long)].collect().sortBy(r => (r._2, r._3)).toSeq
    // "a b a b" -> (a,b) x2, (b,a) x1; "x" and "" have no bigrams
    assert(got == Seq((1L, "a", "b", 2L), (1L, "b", "a", 1L)))
  }

  test("bigramLogLik: hand-computed Laplace-smoothed bigram likelihood") {
    // train = the doc itself: c12 = {(a,b)->2, (b,a)->1}, context counts
    // c1 = {a->2, b->1}, V = 2 distinct unigrams.
    //   logP(b|a) = ln((2+1)/(2+2)); logP(a|b) = ln((1+1)/(1+2))
    // avg_lp = (2 ln(3/4) + 1 ln(2/3)) / 3
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val r = NgramLM.bigramLogLik(docs, docs).head()
    val want = (2 * math.log(3.0 / 4) + math.log(2.0 / 3)) / 3
    assert(r.getAs[Long]("n_bigrams") == 3L)
    assert(r.getAs[Double]("avg_lp") ==
      BigDecimal(want).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("bigramLogLik: unseen bigram with seen context stays finite via smoothing") {
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq((9L, "b b")).toDF("doc_id", "text") // (b,b) never trained
    val r = NgramLM.bigramLogLik(docs, train).head()
    // c12(b,b)=0, c1(b)=1, V=2 -> ln(1/3)
    assert(r.getAs[Double]("avg_lp") ==
      BigDecimal(math.log(1.0 / 3)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("perplexityFilter: keeps exactly the docs at/above the quantile threshold") {
    // 4 fluent clones + 1 scrambled doc: the clone grams dominate the LM,
    // so the scrambled doc scores strictly lowest
    val docs = (Seq.tabulate(4)(i => (i.toLong, "the cat sat on the mat")) :+
      (9L, "mat the on cat the sat zz qq")).toDF("doc_id", "text")
    val got = NgramLM.perplexityFilter(docs, keepQuantile = 0.25)
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(got(9L) == false)
    assert((0L to 3L).forall(got(_)))
  }

  test("dsirWeights: target == raw gives log_w exactly 0 for every doc") {
    val docs = Seq((1L, "a b c"), (2L, "c c d"), (3L, "e")).toDF("doc_id", "text")
    val got = NgramLM.dsirWeights(docs, docs)
      .select("doc_id", "log_w").as[(Long, Double)].collect().toSeq
    assert(got.size == 3 && got.forall(_._2 == 0.0))
  }

  test("dsirWeights: steers toward the target slice's vocabulary") {
    // target slice is French-ish; the French raw doc must outweigh the
    // English one (its tokens are common under p_target, rare under p_raw)
    val raw = Seq((1L, "le chat noir le chat"), (2L, "the dog runs the dog"))
      .toDF("doc_id", "text")
    val target = Seq((10L, "le chat le noir chat le")).toDF("doc_id", "text")
    val w = NgramLM.dsirWeights(raw, target)
      .select("doc_id", "log_w").as[(Long, Double)].collect().toMap
    assert(w(1L) > w(2L))
    assert(w(1L) > 0.0 && w(2L) < 0.0)
  }

  test("bigramLogLik/dsirWeights: a failing query leaves no cached frames behind") {
    spark.catalog.clearCache()
    // a text column that throws during evaluation — the action inside
    // bigramLogLik/dsirWeights fails mid-compute
    val bad = Seq((1L, "a b c"), (2L, "boom")).toDF("doc_id", "text")
      .withColumn("text",
        when(col("text") === "boom",
          raise_error(lit("planted failure"))).otherwise(col("text")))
    intercept[Exception] { NgramLM.bigramLogLik(bad, bad).count() }
    intercept[Exception] { NgramLM.dsirWeights(bad, bad).count() }
    // the try/finally must have unpersisted the intermediates: an
    // equivalent re-built plan finds no cache entry to attach to
    assert(NgramLM.docNgrams(bad, 2).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "failed bigramLogLik leaked its persisted gram frame")
    spark.catalog.clearCache()
  }

  // ---- interpolated Kneser-Ney ----
  // train corpus "a b a b a c": c12 = {(a,b)=2, (b,a)=2, (a,c)=1};
  // hist: a(c1=3, nf=2), b(c1=2, nf=1); cont: a=1, b=1, c=1; B=3;
  // n1=1 (ac), n2=2 (ab, ba) → D = 1/(1+4) = 0.2.
  //   P(b|a) = (2−.2)/3 + (.2·2/3)(1/3) = 0.644444…
  //   P(a|b) = (2−.2)/2 + (.2·1/2)(1/3) = 0.933333…
  //   P(c|a) = (1−.2)/3 + (.2·2/3)(1/3) = 0.311111…
  private val knTrain = Seq((100L, "a b a b a c")).toDF("doc_id", "text")

  test("knLogLik: hand-computed interpolated-KN probabilities") {
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"), (4L, "a b a c"))
      .toDF("doc_id", "text")
    val got = NgramLM.knLogLik(docs, knTrain, 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val pAB = 0.6 + (0.2 * 2.0 / 3.0) * (1.0 / 3.0)
    val pBA = 0.9 + (0.2 * 1.0 / 2.0) * (1.0 / 3.0)
    val pAC = 0.8 / 3.0 + (0.2 * 2.0 / 3.0) * (1.0 / 3.0)
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 1L, 0L, r4(math.log(pAB))),
      (2L, 1L, 0L, r4(math.log(pBA))),
      (3L, 1L, 0L, r4(math.log(pAC))),
      (4L, 3L, 0L,
        r4((math.log(pAB) + math.log(pBA) + math.log(pAC)) / 3.0))),
      s"hand-KN mismatch: $got")
  }

  test("knLogLik: the continuation distribution sums to one per seen history") {
    // sum over the continuation vocabulary {a,b,c} of P(w|a):
    // max-discounted mass (3−2D)/3 plus λ(a)·ΣP_cont = 2D/3 → exactly 1
    val probes = Seq((1L, "a a"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val lps = NgramLM.knLogLik(probes, knTrain, 2, scale = 9)
      .as[(Long, Long, Long, Double)].collect().map(_._4)
    val total = lps.map(math.exp).sum
    assert(math.abs(total - 1.0) < 1e-6,
      s"KN must normalize over the seen continuation vocab, got $total")
  }

  test("knLogLik: unseen history backs off to P_cont; unseen w2 is counted OOV") {
    val docs = Seq(
      (1L, "z a"), // history z unseen → P = P_cont(a) = 1/3
      (2L, "a z"), // w2 z never a continuation → OOV, excluded
      (3L, "z z z")).toDF("doc_id", "text") // all OOV → avg_lp 0.0
    val got = NgramLM.knLogLik(docs, knTrain, 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 1L, 0L, r4(math.log(1.0 / 3.0))),
      (2L, 1L, 1L, 0.0),
      (3L, 2L, 2L, 0.0)), s"back-off/OOV arms mismatch: $got")
  }

  // ---- trigram interpolated Kneser-Ney ----
  // train "a b c a b d a b c": c123 = {abc=2, bca=1, cab=1, abd=1,
  // bda=1, dab=1} → n1=5, n2=1, D3 = 5/7. Continuation-bigram table
  // ĉ = {(a,b)=2 [c,d precede? no — distinct w1 BEFORE (a,b): {c,d}],
  // (b,c)=1, (c,a)=1, (b,d)=1, (d,a)=1} → n̂1=4, n̂2=1, D2 = 2/3,
  // B = 5. hist12(a,b): c12dot=3, nf12=2. ĉ(b,·)=2, N1+(b,·)=2.
  //   P̂(c|b) = (1−2/3)/2 + (2/3·2/2)(1/5) = 1/6 + 2/15 = 0.3
  //   P(c|a,b) = (2−5/7)/3 + (5/7·2/3)·0.3 = 3/7 + 1/7 = 0.571428…
  //   P(d|a,b) = (1−5/7)/3 + (10/21)·0.3  = 2/21 + 1/7 = 0.238095…
  private val trigramTrain = Seq((300L, "a b c a b d a b c")).toDF("doc_id", "text")

  test("kn3LogLik: hand-computed two-level interpolated-KN probabilities") {
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val got = NgramLM.knLogLik(docs, trigramTrain, 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val d3 = 5.0 / 7.0; val d2 = 2.0 / 3.0
    val pLowC = (1.0 - d2) / 2.0 + (d2 * 2.0 / 2.0) * (1.0 / 5.0)
    val pC = (2.0 - d3) / 3.0 + (d3 * 2.0 / 3.0) * pLowC
    val pD = (1.0 - d3) / 3.0 + (d3 * 2.0 / 3.0) * pLowC
    assert(got == Seq(
      (1L, 1L, 0L, r4(math.log(pC))),
      (2L, 1L, 0L, r4(math.log(pD)))), s"hand-KN3 mismatch: $got")
  }

  test("kn3LogLik: both levels normalize to one over the continuation vocab") {
    val probes = Seq((1L, "a b a"), (2L, "a b b"), (3L, "a b c"),
      (4L, "a b d")).toDF("doc_id", "text")
    val lps = NgramLM.knLogLik(probes, trigramTrain, 3, scale = 9)
      .as[(Long, Long, Long, Double)].collect().map(_._4)
    val total = lps.map(math.exp).sum
    assert(math.abs(total - 1.0) < 1e-6,
      s"trigram KN must normalize over the seen continuation vocab, got $total")
    // mid level alone (unseen (z,b) history falls through to P̂(·|b))
    val mid = Seq((1L, "z b a"), (2L, "z b b"), (3L, "z b c"),
      (4L, "z b d")).toDF("doc_id", "text")
    val midTotal = NgramLM.knLogLik(mid, trigramTrain, 3, scale = 9)
      .as[(Long, Long, Long, Double)].collect().map(r => math.exp(r._4)).sum
    assert(math.abs(midTotal - 1.0) < 1e-6,
      s"the continuation-count middle order must normalize, got $midTotal")
  }

  test("kn3LogLik: fall-through arms and OOV accounting") {
    val docs = Seq(
      (1L, "z b c"), // (z,b) unseen → P̂(c|b) = 0.3
      (2L, "a z c"), // mid-history z unseen → P_cont(c) = 1/5
      (3L, "a b z")).toDF("doc_id", "text") // w3 unseen → OOV
    val got = NgramLM.knLogLik(docs, trigramTrain, 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 1L, 0L, r4(math.log(0.3))),
      (2L, 1L, 0L, r4(math.log(0.2))),
      (3L, 1L, 1L, 0.0)), s"fall-through arms mismatch: $got")
  }

  test("kn3LogLik: the middle order uses continuation counts, not raw bigram counts") {
    // (s,f) occurs 3× but always after x; (s,g) occurs 2× after two
    // distinct histories. Probing with an unseen (q,s) history isolates
    // the middle order: continuation counting must prefer g, while raw
    // bigram counting would prefer f.
    val train = Seq((400L, "x s f x s f x s f y s g z s g"))
      .toDF("doc_id", "text")
    val probes = Seq((1L, "q s f"), (2L, "q s g")).toDF("doc_id", "text")
    val got = NgramLM.knLogLik(probes, train, 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(got(1)._4 > got(0)._4,
      s"ĉ(s,g)=2 must beat ĉ(s,f)=1 despite c(s,f)=3 > c(s,g)=2: ${got.toSeq}")
  }

  // ---- order 4 (q211): the recursion one level deeper ----

  private lazy val quadgramTrain = Seq(
    (100L, "a b c d"), (101L, "a b c e"), (102L, "b b c d"),
    (103L, "c a b c d e")).toDF("doc_id", "text")

  test("kn4LogLik: every level normalizes to one over the continuation vocab") {
    // continuation vocab of the fixture = {c, d, e} (words with nb > 0)
    def total(prefix: String): Double = {
      val probes = Seq("c", "d", "e").zipWithIndex
        .map { case (w, i) => (i.toLong, s"$prefix $w") }
        .toDF("doc_id", "text")
      NgramLM.knLogLik(probes, quadgramTrain, 4, scale = 9)
        .as[(Long, Long, Long, Double)].collect().map(r => math.exp(r._4)).sum
    }
    // seen top-level history; unseen (w1,w2,w3) → P̂3; unseen (w2,w3)
    // → P̂2; unseen w3 → P_cont — each level must sum to exactly 1
    for ((prefix, level) <- Seq("a b c" -> "top", "z b c" -> "hat3",
        "z z c" -> "hat2", "z z z" -> "cont")) {
      val t = total(prefix)
      assert(math.abs(t - 1.0) < 1e-6,
        s"level $level must normalize over the continuation vocab, got $t")
    }
  }

  test("kn4LogLik: fall-through ordering and OOV accounting") {
    val docs = Seq(
      (1L, "a b c z"),   // z never a continuation → OOV
      (2L, "z b c d"),   // unseen top history → P̂3(d|b,c)
      (3L, "z z c d")    // unseen (w2,w3) too → P̂2(d|c)
    ).toDF("doc_id", "text")
    val got = NgramLM.knLogLik(docs, quadgramTrain, 4)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.head == ((1L, 1L, 1L, 0.0)), s"OOV row mismatch: $got")
    // the hat3 level has MORE signal for d after (b,c) (ĉ3(b,c,d) = 2
    // of ĉ3(b,c,·) = 3) than the hat2 level after bare c (ĉ2(c,d) = 1
    // of ĉ2(c,·) = 2) — deeper context must win here
    assert(got(1)._4 > got(2)._4, s"fall-through ordering mismatch: $got")
    assert(got(1)._3 == 0 && got(2)._3 == 0)
  }

  test("kn4LogLik: the from-counts seam answers the raw-docs path verbatim") {
    val probes = Seq((1L, "a b c d"), (2L, "c a b c d e"), (3L, "z b c d"))
      .toDF("doc_id", "text")
    val direct = NgramLM.knLogLik(probes, quadgramTrain, 4)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val fromCounts = NgramLM.knLogLikFromCounts(probes,
        NgramLM.corpusNgrams(quadgramTrain, 4))
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(direct == fromCounts,
      "the additive count multiset must force bit-identical order-4 scores")
    // and the corpus partial equals the per-doc frame aggregated
    val a = NgramLM.corpusNgrams(quadgramTrain, 4)
      .as[(String, String, String, String, Long)].collect().toSet
    val b = NgramLM.docNgrams(quadgramTrain, 4)
      .groupBy("w1", "w2", "w3", "w4").agg(sum("n").as("n"))
      .as[(String, String, String, String, Long)].collect().toSet
    assert(a == b)
  }

  test("kn4PrunedLogLik: eps = 0 keeps every entry and equals kn4LogLik verbatim") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
    val pruned = NgramLM.knPrunedLogLik(docs, docs, 4, eps = 0.0)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val full = NgramLM.knLogLik(docs, docs, 4)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(pruned == full,
      "γ4 must reduce to the original back-off weight when nothing prunes")
  }

  test("kn4PrunedLogLik: pruning bites and every (w1,w2,w3) history still sums to 1") {
    // prune at the fixture's own median loss (the tiny corpus's
    // per-token losses are large, so a production eps keeps all 5
    // types), then check the pruned distribution still normalizes over
    // the continuation vocabulary for a seen history — the γ4
    // renormalization identity
    val losses = NgramLM.knPruneEntries(quadgramTrain, 4, 0.0)
      .select("loss").as[Double].collect().sorted
    val eps = losses(losses.length / 2)
    val ent = NgramLM.knPruneEntries(quadgramTrain, 4, eps)
      .select("kept").as[Boolean].collect()
    assert(ent.exists(!_) && ent.exists(identity),
      s"fixture must split at eps=$eps: ${ent.count(identity)}/${ent.length}")
    val probes = Seq("c", "d", "e").zipWithIndex
      .map { case (w, i) => (i.toLong, s"a b c $w") }
      .toDF("doc_id", "text")
    val lps = NgramLM.knPrunedLogLik(probes, quadgramTrain, 4, eps, scale = 9)
      .as[(Long, Long, Long, Double)].collect().map(r => math.exp(r._4))
    val total = lps.sum
    assert(math.abs(total - 1.0) < 1e-6,
      s"pruned 4-gram KN must still normalize per history, got $total")
    // and the pruned scores differ from the full model's (the γ4 arm fires)
    val full = NgramLM.knLogLik(probes, quadgramTrain, 4, scale = 9)
      .as[(Long, Long, Long, Double)].collect().map(_._4).toSeq
    val pr = NgramLM.knPrunedLogLik(probes, quadgramTrain, 4, eps, scale = 9)
      .as[(Long, Long, Long, Double)].collect().map(_._4).toSeq
    assert(full != pr, "the prune must move at least one probe score")
  }

  test("corpusBigrams: equals the per-doc frame aggregated (the store partial)") {
    val docs = Seq((1L, "a b a b"), (2L, "b a x"), (3L, null.asInstanceOf[String]),
      (4L, "x")).toDF("doc_id", "text")
    val direct = NgramLM.corpusNgrams(docs, 2)
      .as[(String, String, Long)].collect().toSet
    val viaDocs = NgramLM.docNgrams(docs, 2).groupBy("w1", "w2")
      .agg(sum("n").as("n")).as[(String, String, Long)].collect().toSet
    assert(direct == viaDocs && direct.nonEmpty,
      "the doc-axis-free partial must count exactly the per-doc path's total")
  }

  test("knLogLik: D floors at 0.5 when no singleton bigrams exist (n1 = 0)") {
    // train has every bigram type >= 2: (a,b)=3, (b,a)=2 -> n1=0. The raw
    // count-of-counts estimate would give D=0 and an unseen bigram with a
    // seen history would score P = 0 -> silently OOV (ADVICE r13); the
    // floor keeps it on the documented back-off path.
    val train = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val docs = Seq((9L, "b b")).toDF("doc_id", "text") // unseen gram, seen history
    val r = NgramLM.knLogLik(docs, train, 2).head()
    // D=0.5; p = 0 + (D*nf(b)/c1(b)) * pcont(b) = (0.5*1/2) * (1/2) = 0.125
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n_oov") == 0L,
      "a seen-history gram must never fall into the OOV tally")
    assert(r.getAs[Double]("avg_lp") == r4(math.log(0.125)))
  }

  // ---- entropy-pruned KN (Stolcke 1998 / the SRILM -prune step) ----

  test("knPrunedLogLik: eps = 0 keeps every entry and equals knLogLik verbatim") {
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"), (4L, "a b a c"))
      .toDF("doc_id", "text")
    val full = NgramLM.knLogLik(docs, knTrain, 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val pruned = NgramLM.knPrunedLogLik(docs, knTrain, 2, eps = 0.0)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(pruned == full,
      "with nothing pruned, γ must reduce to the original back-off weight")
  }

  test("knPrunedLogLik: pruning bites, scores move, and every history still sums to 1") {
    // a corpus with a spread of losses: pick eps at the median so the
    // kept set is a strict, non-empty subset — the renormalized γ arm
    // is then genuinely exercised by self-scoring
    val train = Seq(
      (1L, "the cat sat on the mat and the cat ran to the mat"),
      (2L, "a dog sat on a mat and a dog ran to a rug"),
      (3L, "the dog and the cat sat")).toDF("doc_id", "text")
    val ent = NgramLM.knPruneEntries(train, 2, eps = 0.0)
      .as[(String, String, Long, Long, Double, Boolean)].collect()
    val losses = ent.map(_._5).sorted
    val eps = losses(losses.length / 2)
    val entAt = NgramLM.knPruneEntries(train, 2, eps)
      .as[(String, String, Long, Long, Double, Boolean)].collect()
    assert(entAt.exists(_._6) && entAt.exists(!_._6),
      "the median threshold must split the entries")
    // scores move vs the unpruned model for at least one doc
    val full = NgramLM.knLogLik(train, train, 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val pruned = NgramLM.knPrunedLogLik(train, train, 2, eps)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(pruned != full, "pruning must actually move some score")
    assert(pruned.forall(_._3 == 0L), "self-scoring must never go OOV")
    // normalization: for EVERY seen history, summing the pruned model's
    // probability over the whole continuation vocabulary gives exactly 1
    // — the γ renormalization telescope (kept pSeen mass + γ·remaining
    // P_cont mass). Probe with one 2-token doc per (history, word) pair.
    val vocab = ent.map(_._2).distinct.sorted
    val hists = ent.map(_._1).distinct.sorted
    val probes = (for {
      (h, hi) <- hists.zipWithIndex
      (w, wi) <- vocab.zipWithIndex
    } yield ((hi * 1000 + wi).toLong, s"$h $w", hi)).toSeq
      .toDF("doc_id", "text", "hist")
    val lps = NgramLM.knPrunedLogLik(probes.select("doc_id", "text"),
        train, 2, eps, scale = 9)
      .join(probes.select(col("doc_id"), col("hist")), Seq("doc_id"))
      .select("hist", "avg_lp").as[(Int, Double)].collect()
    val byHist = lps.groupBy(_._1).view.mapValues(_.map(r => math.exp(r._2)).sum)
    byHist.foreach { case (h, total) =>
      assert(math.abs(total - 1.0) < 1e-6,
        s"pruned model must renormalize per history, ${hists(h)} -> $total")
    }
  }

  test("knPrunedLogLik: eps above every loss prunes all entries -> pure P_cont (γ = 1)") {
    val train = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"), (4L, "a b a c"))
      .toDF("doc_id", "text")
    val probes = Seq((1L, "a b"), (2L, "b a"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = NgramLM.knPrunedLogLik(probes, train, 2, eps = 1e9)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    // every explicit entry gone: seen histories carry γ = 1 and each
    // gram scores its bare continuation probability
    val cont = NgramLM.corpusNgrams(train, 2)
      .as[(String, String, Long)].collect()
    val b = cont.size.toDouble
    def pcont(w: String) = cont.count(_._2 == w) / b
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 1L, 0L, r4(math.log(pcont("b")))),
      (2L, 1L, 0L, r4(math.log(pcont("a")))),
      (3L, 1L, 0L, r4(math.log(pcont("c"))))),
      s"fully pruned model must score pure P_cont: $got")
  }

  test("kn3PrunedLogLik: eps = 0 keeps every entry and equals kn3LogLik verbatim") {
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b c a b d"))
      .toDF("doc_id", "text")
    val full = NgramLM.knLogLik(docs, trigramTrain, 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val pruned = NgramLM.knPrunedLogLik(docs, trigramTrain, 3, eps = 0.0)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(pruned == full,
      "with nothing pruned, γ3 must reduce to the original back-off weight")
  }

  test("kn3PrunedLogLik: eps above every loss collapses to the mid-level model") {
    // every explicit trigram entry gone, every history's kept set empty
    // ⇒ γ3 = 1 and each gram scores P̂(w3|w2) — the continuation-count
    // middle order alone; from the trigramTrain hand model P̂(c|b) = 0.3
    val probes = Seq((1L, "a b c")).toDF("doc_id", "text")
    val got = NgramLM.knPrunedLogLik(probes, trigramTrain, 3, eps = 1e9).head()
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Long]("n_oov") == 0L)
    assert(got.getAs[Double]("avg_lp") == r4(math.log(0.3)))
  }

  test("kn3PrunedLogLik: pruning bites and every (w1,w2) history still sums to 1") {
    val train = Seq(
      (1L, "the cat sat on the mat and the cat ran to the mat"),
      (2L, "a dog sat on a mat and a dog ran to a rug"),
      (3L, "the dog and the cat sat on a rug")).toDF("doc_id", "text")
    // pick eps at the median engine-computed trigram loss so the kept
    // set is a strict, non-empty subset (the q205-spec discipline, one
    // order up — knPruneEntries shares the loss definition with the
    // scorer by construction)
    val c123 = NgramLM.corpusNgrams(train, 3)
      .as[(String, String, String, Long)].collect()
    val losses = NgramLM.knPruneEntries(train, 3, eps = 0.0)
      .select("loss").as[Double].collect().sorted
    val eps = losses(losses.length / 2)
    val entAt = NgramLM.knPruneEntries(train, 3, eps)
      .select("kept").as[Boolean].collect()
    assert(entAt.exists(identity) && entAt.exists(!_),
      "the median threshold must split the entries")
    val pruned = NgramLM.knPrunedLogLik(train, train, 3, eps)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(pruned != NgramLM.knLogLik(train, train, 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq,
      "pruning must actually move some score")
    assert(pruned.forall(_._3 == 0L), "self-scoring must never go OOV")
    // normalization: for every seen (w1, w2) history, the pruned model
    // sums to exactly 1 over the full continuation vocabulary
    val hists = c123.map(r => (r._1, r._2)).distinct.sorted
    val vocab = c123.map(_._3).distinct.sorted
    val probes = (for {
      ((h1, h2), hi) <- hists.zipWithIndex
      (w, wi) <- vocab.zipWithIndex
    } yield ((hi * 1000 + wi).toLong, s"$h1 $h2 $w", hi)).toSeq
      .toDF("doc_id", "text", "hist")
    val lps = NgramLM.knPrunedLogLik(probes.select("doc_id", "text"),
        train, 3, eps, scale = 9)
      .join(probes.select(col("doc_id"), col("hist")), Seq("doc_id"))
      .select("hist", "avg_lp").as[(Int, Double)].collect()
    lps.groupBy(_._1).foreach { case (h, rows) =>
      val total = rows.map(r => math.exp(r._2)).sum
      assert(math.abs(total - 1.0) < 1e-6,
        s"pruned trigram model must renormalize per history, " +
          s"${hists(h)} -> $total")
    }
  }

  test("knLogLik: Kneser-Ney demotes the often-seen-but-one-history continuation") {
    // "francisco" occurs MORE often than "cat" but always after "san";
    // as a continuation of the open history "the", KN must prefer
    // "cat" (two distinct left contexts) over "francisco" (one) even
    // though Laplace — which only sees raw counts — prefers "francisco".
    val train = Seq(
      (200L, "san francisco beats san francisco beats san francisco"),
      (201L, "the cat sat and a cat ran")).toDF("doc_id", "text")
    val probes = Seq((1L, "ran francisco"), (2L, "ran cat"))
      .toDF("doc_id", "text") // "ran" is an unseen history → pure P_cont
    val kn = NgramLM.knLogLik(probes, train, 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(kn(1)._4 > kn(0)._4,
      s"P_cont(cat) must beat P_cont(francisco): $kn")
  }
}
