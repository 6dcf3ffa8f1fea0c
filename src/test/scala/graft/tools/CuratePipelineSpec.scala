package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables
import graft.ext.Sharding

class CuratePipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("end-to-end curation: gates, cap, split, packing invariants all hold") {
    val docs = Tables.documents(spark, sf)
    val out = CuratePipeline.run(spark, docs,
      minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 20)
    val rows = out.select("doc_id", "source", "split", "shard", "n_tokens")
      .as[(Long, String, String, Long, Long)].collect()
    assert(rows.nonEmpty)

    // split assignment matches the deterministic hash everywhere
    rows.foreach { case (id, _, split, _, _) =>
      val b = ((id % 1000003L) * 2654435761L) % 100L
      val expected = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(split == expected, s"doc $id: $split != $expected")
    }

    // per-source cap respected
    val bySource = rows.groupBy(_._2).view.mapValues(_.length)
    assert(bySource.values.forall(_ <= 20), s"cap violated: $bySource")

    // packing: within each split, shards partition the docs contiguously
    // in id order and stay within budget + one doc
    rows.groupBy(_._3).foreach { case (split, rs) =>
      val byShard = rs.groupBy(_._4).toSeq.sortBy(_._1)
      byShard.sliding(2).foreach {
        case Seq((_, a), (_, b)) =>
          assert(a.map(_._1).max < b.map(_._1).min, s"$split: shard id ranges overlap")
        case _ =>
      }
      val maxDoc = rs.map(_._5).max
      byShard.dropRight(1).foreach { case (sh, ss) =>
        val tok = ss.map(_._5).sum
        assert(tok < 2000 + maxDoc, s"$split shard $sh over budget: $tok")
      }
    }

    // deterministic: a second run yields the identical frame
    val again = CuratePipeline.run(spark, docs,
      minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 20)
      .select("doc_id", "source", "split", "shard", "n_tokens")
      .as[(Long, String, String, Long, Long)].collect()
    assert(again.toSet == rows.toSet)
  }

  test("decontamination stage removes benchmark-contaminated docs") {
    val docs = Tables.documents(spark, sf)
    // benchmark = a verbatim slice of one known doc -> that doc must drop
    val bench = docs.orderBy("doc_id").limit(1)
      .select(col("doc_id") + 900000L as "doc_id", col("text"))
    val contaminatedId = docs.orderBy("doc_id").limit(1)
      .select("doc_id").as[Long].head()
    val without = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 1000, benchmarks = Some(bench))
      .select("doc_id").as[Long].collect().toSet
    assert(!without.contains(contaminatedId),
      s"doc $contaminatedId verbatim-matches the benchmark and must be removed")
  }

  test("round-7 stages: NB lang prediction, span dedup, temperature mix compose") {
    val docs = Tables.documents(spark, sf)
    val allLangs = Seq("en", "de", "es", "fr", "zh", "und")
    // lang metadata predicted by NB trained on the real labels: on the
    // training slice itself NB is near-perfect, so the gate keeps a
    // comparable corpus; the pipeline must run end-to-end regardless
    val out = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = allLangs,
      tokenBudget = 2000, perSourceCap = 1000,
      nbLangTrain = Some(docs.filter(col("doc_id") % 5 =!= 0)),
      spanDedupWidth = Some(8),
      temperatureTarget = Some(200L))
    val rows = out.select("doc_id", "source", "text", "n_tokens")
      .as[(Long, String, String, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 200,
      s"temperature mix must hold the total at/below target, got ${rows.length}")

    // span dedup really edited: total tokens strictly below the raw corpus
    // for the same doc ids (the sf corpus plants near-dup docs)
    val kept = rows.map(_._1).toSet
    val rawTokens = docs.filter(col("doc_id").isin(kept.toSeq: _*))
      .select(sum(size(split(col("text"), " ")))).as[Long].head()
    val cleanTokens = rows.map(_._4).sum
    assert(cleanTokens <= rawTokens)

    // determinism end-to-end with every stage on
    val again = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = allLangs,
      tokenBudget = 2000, perSourceCap = 1000,
      nbLangTrain = Some(docs.filter(col("doc_id") % 5 =!= 0)),
      spanDedupWidth = Some(8),
      temperatureTarget = Some(200L))
      .select("doc_id", "source", "text", "n_tokens")
      .as[(Long, String, String, Long)].collect()
    assert(again.toSet == rows.toSet)
  }

  test("round-8 stages: bloom decontamination identical; seqLen emits full sequences") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.orderBy("doc_id").limit(2)
      .select(col("doc_id") + 900000L as "doc_id", col("text"))
    def ids(bloom: Boolean) = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 1000, benchmarks = Some(bench),
      bloomDecontaminate = bloom)
      .select("doc_id").as[Long].collect().toSet
    assert(ids(bloom = true) == ids(bloom = false),
      "bloom and exact decontamination must keep identical corpora")

    val seqs = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 1000, seqLen = Some(256L))
    val rows = seqs.select("doc_id", "split", "shard", "seq_off", "span_len")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // within each split, every sequence but the last is exactly full and
    // fills contiguously from offset 0
    rows.groupBy(_._2).foreach { case (sp, rs) =>
      val bySeq = rs.groupBy(_._3)
      val last = bySeq.keys.max
      bySeq.foreach { case (seq, ss) =>
        val spans = ss.sortBy(_._4)
        assert(spans.map(_._4).zip(spans.scanLeft(0L)(_ + _._5)).forall {
          case (off, expect) => off == expect
        }, s"$sp seq $seq must fill contiguously")
        if (seq != last)
          assert(ss.map(_._5).sum == 256L, s"$sp seq $seq not full")
      }
    }
  }

  test("round-9 stages: per-doc dirty gate tightens; epoch seed permutes shards only") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.orderBy("doc_id").limit(3)
      .select(col("doc_id") + 900000L as "doc_id",
        expr("array_join(slice(split(text, ' '), 1, 12), ' ')").as("text"))
    def keptIds(dirty: Option[Double]) = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 1000, benchmarks = Some(bench),
      maxDirtyFrac = dirty)
      .select("doc_id").as[Long].collect().toSet
    val loose = keptIds(None)
    val tight = keptIds(Some(0.0)) // any shared trigram drops the doc
    assert(tight.subsetOf(loose), "the dirty gate can only REMOVE docs")
    assert(tight.size < loose.size,
      "the zero-tolerance gate must drop docs the pair-level gate kept")

    val base = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 1000, seqLen = Some(256L))
      .select("doc_id", "split", "shard", "seq_off", "span_len")
      .as[(Long, String, Long, Long, Long)].collect()
    val shuffled = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 1000, seqLen = Some(256L),
      epochSeed = Some(3L))
      .select("doc_id", "split", "shard", "seq_off", "span_len")
      .as[(Long, String, Long, Long, Long)].collect()
    // membership is untouched: each (split, old shard)'s row set maps to
    // exactly one new shard, and the shard id SET per split is identical
    def key(r: (Long, String, Long, Long, Long)) = (r._1, r._2, r._4, r._5)
    val toNew = shuffled.map(r => key(r) -> r._3).toMap
    base.groupBy(r => (r._2, r._3)).foreach { case ((sp, old), rs) =>
      val news = rs.map(r => toNew(key(r))).distinct
      assert(news.size == 1, s"$sp shard $old split across new shards")
    }
    base.groupBy(_._2).foreach { case (sp, rs) =>
      val olds = rs.map(_._3).toSet
      val news = shuffled.filter(_._2 == sp).map(_._3).toSet
      assert(olds == news, s"$sp: shard id set changed under renumbering")
    }
    assert(base.map(r => key(r) -> r._3).toMap != toNew,
      "the permutation must actually move sequences")
  }

  test("repetition gate drops planted boilerplate; no kept doc is flagged") {
    // 16 tokens, 8 distinct: passes the quality gate (score ≈ .43 ≥ .3)
    // but its repeated 3-gram block gives dup3 ≈ .86 ≫ the .01 threshold
    val planted = Seq(
      (9000001L, "a b c d e f g h a b c d e f g h", "und", "src0", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.documents(spark, sf).unionByName(planted)
    def ids(gate: Boolean) = CuratePipeline.run(spark, docs,
        minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
        tokenBudget = 2000, perSourceCap = 1000000, dropRepetitive = gate)
      .select("doc_id").as[Long].collect().toSet
    val without = ids(false)
    val withGate = ids(true)
    assert(without.contains(9000001L),
      "planted doc must survive the quality/lang gates when ungated")
    assert(!withGate.contains(9000001L), "the repetition gate must drop it")
    // the gate's direct contract: nothing repetitive survives it
    val flagged = graft.ext.TextAnalysis
      .repetitionProfile(docs).filter(col("repetitive"))
      .select("doc_id").as[Long].collect().toSet
    assert(withGate.intersect(flagged).isEmpty,
      s"repetitive docs survived: ${withGate.intersect(flagged).take(5)}")
  }

  test("containment stage drops the quoted-whole doc; weighted sampling replaces the cap") {
    // doc B embeds doc A's entire text in a 3x larger page: Jaccard is
    // ~1/3 (survives the symmetric LSH dedup at 0.5) but containment of
    // A in B is 1.0 — only the containment stage can catch it. Real
    // corpus words keep both docs through the quality/lang gates.
    val innerText = ("the quick brown fox jumps over the lazy dog while " +
      "many other animals watch the scene with great interest today")
    // 3x the inner length: Jaccard ≈ 1/3 stays below the 0.5 symmetric
    // dedup threshold while containment of inner in outer is 1.0
    val outer = innerText + " " + ("meanwhile the weather stays warm and " +
      "people walk along the river bank talking about the news quietly " +
      "as evening comes the market closes and vendors pack their stalls " +
      "before heading home through narrow streets filled with soft light")
    val planted = Seq(
      (9100001L, innerText, "en", "srcq", innerText.length.toLong),
      (9100002L, outer, "en", "srcq", outer.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.documents(spark, sf).unionByName(planted)
    def ids(t: Option[Double]) = CuratePipeline.run(spark, docs,
        minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
        tokenBudget = 2000, perSourceCap = 1000000,
        containmentThreshold = t)
      .select("doc_id").as[Long].collect().toSet
    val without = ids(None)
    assert(without.contains(9100001L) && without.contains(9100002L),
      "both planted docs must survive the symmetric pipeline")
    val gated = ids(Some(0.9))
    assert(!gated.contains(9100001L), "the contained (smaller) doc must drop")
    assert(gated.contains(9100002L), "the containing (bigger) doc must stay")

    // weighted sampling: exactly k docs per source, deterministic re-deal
    val base = Tables.documents(spark, sf)
    def sampled() = CuratePipeline.run(spark, base,
        minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
        tokenBudget = 2000, perSourceCap = 1000000,
        weightedSampleK = Some(3), sampleSeed = 7L)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    val s1 = sampled()
    val perSource = s1.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perSource.values.forall(_ <= 3), s"per-source k violated: $perSource")
    assert(sampled() == s1, "the seeded sample must re-deal identically")
    // mutually exclusive with temperature mixing
    intercept[IllegalArgumentException] {
      CuratePipeline.run(spark, base, 0.3, Seq("en"), 2000, 10,
        temperatureTarget = Some(100L), weightedSampleK = Some(3))
    }
  }

  test("normalized sample weights: scale-free tilt, deterministic, per-source k") {
    val base = Tables.documents(spark, sf)
    def sampled(norm: Boolean) = CuratePipeline.run(spark, base,
        minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
        tokenBudget = 2000, perSourceCap = 1000000,
        weightedSampleK = Some(3), sampleSeed = 7L,
        normalizeSampleWeights = norm)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    val norm1 = sampled(norm = true)
    assert(sampled(norm = true) == norm1, "seeded re-deal must be identical")
    val perSource = norm1.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perSource.values.forall(_ <= 3), s"per-source k violated: $perSource")
    val raw = sampled(norm = false)
    assert(raw.map(_._2) == norm1.map(_._2),
      "both weightings sample the same source strata")
    assert(raw != norm1,
      "rank-transformed weights must actually change the tilt")
  }

  test("leakage-safe split keeps weak look-alikes in one split") {
    // two docs sharing ~47% of their shingles: BELOW the 0.5 dedup
    // threshold (both survive the pipeline's near-dup pass) but clearly
    // look-alike — under the per-doc hash their ids land in train vs
    // test (computed to differ), leaking eval content into training.
    val shared = "the quick brown fox jumps over the lazy dog while many " +
      "other animals watch the scene with great interest as the sun sets " +
      "slowly behind the tall green hills tonight"
    val tailA = "later the farmer returns home and feeds the hungry " +
      "chickens before dinner time arrives quietly"
    val tailB = "meanwhile a gentle rain begins to fall across the quiet " +
      "valley washing the dusty roads clean"
    val planted = Seq(
      (9200001L, shared + " " + tailA), // hash split: train
      (9200004L, shared + " " + tailB)) // hash split: test
      .map { case (id, t) => (id, t, "en", "srcl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.documents(spark, sf).unionByName(planted)
    def splits(t: Option[Double]): Map[Long, String] =
      CuratePipeline.run(spark, docs,
          minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
          tokenBudget = 2000, perSourceCap = 1000000,
          leakageSplitThreshold = t)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val naive = splits(None)
    assert(naive.contains(9200001L) && naive.contains(9200004L),
      "both look-alikes must survive the 0.5 dedup pass")
    assert(naive(9200001L) == "train" && naive(9200004L) == "test",
      "fixture must actually leak under the per-doc hash")
    val safe = splits(Some(0.3))
    assert(safe(9200001L) == safe(9200004L),
      "cluster-aware assignment must put the pair in one split")
    // dup-free docs keep their per-doc hash assignment (singleton roots)
    val untouchedSame = naive.keySet.intersect(safe.keySet)
      .filterNot(id => id == 9200001L || id == 9200004L)
      .count(id => naive(id) == safe(id))
    assert(untouchedSame > 0)
  }

  test("round-10 stage: substring surgery cuts the quoted benchmark window, keeps the doc") {
    // the leak class the flag stages can't see: a 10-token benchmark
    // quote inside an otherwise-clean page. The benchmark item is 60
    // tokens, so the doc's containment of it is ~14% — far below the
    // 0.5 flag threshold — yet every quoted token must leave the text.
    val docs = Tables.documents(spark, sf)
    val allLangs = Seq("en", "de", "es", "fr", "zh", "und")
    def run(bench: Option[org.apache.spark.sql.DataFrame], ml: Option[Int]) =
      CuratePipeline.run(spark, docs, minQuality = 0.0, langs = allLangs,
        tokenBudget = 2000, perSourceCap = 1000000,
        benchmarks = bench, substrDecontaminateMinLen = ml)
    val baseline = run(None, None)
      .select("doc_id", "text").as[(Long, String)].collect()
    // a doc KNOWN to survive the baseline pipeline, long enough to quote
    val (carrierId, carrierText) = baseline
      .filter(_._2.split(" ").length >= 20).minBy(_._1)
    val toks = carrierText.split(" ")
    val quoted = toks.slice(5, 15).mkString(" ") // the 10-token "question"
    val filler = (0 until 50).map(i => s"zzfiller$i").mkString(" ")
    val bench = Seq((900001L, s"$filler $quoted")).toDF("doc_id", "text")

    // flags alone: carrier survives WITH the quote (sub-threshold leak)
    val flaggedOnly = run(Some(bench), None)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(flaggedOnly.contains(carrierId),
      "fixture must stay below the flag threshold")
    assert(flaggedOnly(carrierId).contains(quoted),
      "without surgery, the quoted window leaks into the corpus")

    // scalpel on: carrier survives, quote gone, count reflects the cut
    val cut = run(Some(bench), Some(8))
      .select("doc_id", "text", "n_tokens").as[(Long, String, Long)].collect()
    val cutText = cut.map(r => r._1 -> r._2).toMap
    assert(cutText.contains(carrierId), "surgery keeps the doc, never drops it")
    assert(!cutText(carrierId).contains(quoted),
      "every quoted benchmark window must be excised")
    assert(cutText(carrierId).split(" ").length <= toks.length - 10,
      "at least the 10 covered tokens leave the carrier")
    // n_tokens (the packing weight) is computed AFTER the surgery
    val nToks = cut.map(r => r._1 -> r._3).toMap
    assert(nToks(carrierId) == cutText(carrierId).split(" ").length.toLong)

    // determinism with the stage on
    val again = run(Some(bench), Some(8))
      .select("doc_id", "text", "n_tokens").as[(Long, String, Long)].collect()
    assert(again.toSet == cut.toSet)
  }

  test("round-10 stage: BPE-token accounting packs by encoded length, not whitespace") {
    val docs = Tables.documents(spark, sf)
    val allLangs = Seq("en", "de", "es", "fr", "zh", "und")
    // a real trained table, so compression actually fires on the corpus
    val (res, toks) = graft.ext.TextAnalysis.bpeTrainBatched(
      docs, "doc_id", "text", rounds = 24, batchCap = 8)
    toks.unpersist(false)
    val table = res.merges.map(m => (m._2, m._3))
    def run(merges: Option[Seq[(String, String)]]) =
      CuratePipeline.run(spark, docs, minQuality = 0.0, langs = allLangs,
        tokenBudget = 500, perSourceCap = 1000000, bpeMerges = merges)

    val ws = run(None).select("doc_id", "n_tokens", "shard")
      .as[(Long, Long, Long)].collect()
    val bpe = run(Some(table)).select("doc_id", "n_tokens", "shard")
      .as[(Long, Long, Long)].collect()
    assert(ws.map(_._1).toSet == bpe.map(_._1).toSet,
      "token accounting must not change WHICH docs survive")

    // n_tokens under the table == the indexed kernel's encoded length
    val want = graft.ext.TextAnalysis.bpeEncodeWithTable(
        docs.filter(col("text").isNotNull), table)
      .select("doc_id", "n_encoded").as[(Long, Long)].collect().toMap
    val got = bpe.map(r => r._1 -> r._2).toMap
    assert(got.forall { case (id, n) => want(id) == n },
      "packing weights must be the trained-tokenizer lengths")

    // merges only compress: every doc's encoded count <= whitespace
    // count, strictly less for at least one (the table really fired)
    val wsTok = ws.map(r => r._1 -> r._2).toMap
    assert(got.forall { case (id, n) => n <= wsTok(id) })
    assert(got.exists { case (id, n) => n < wsTok(id) })

    // packShards closes a shard once it reaches the budget (one doc of
    // overshoot max) — under encoded weights each shard must still obey
    // that rule measured in ENCODED tokens: total minus its largest doc
    // stays under budget
    val shardTotals = run(Some(table))
      .groupBy("split", "shard")
      .agg(sum("n_tokens").as("t"), max("n_tokens").as("m"))
      .as[(String, Long, Long, Long)].collect()
    assert(shardTotals.forall(s => s._3 - s._4 < 500),
      s"a shard exceeds the encoded budget by more than one doc: " +
        shardTotals.filter(s => s._3 - s._4 >= 500).toSeq)
    // and compression buys fewer shards than whitespace accounting
    def nShards(merges: Option[Seq[(String, String)]]) =
      run(merges).select("split", "shard").distinct().count()
    val (wsShards, bpeShards) = (nShards(None), nShards(Some(table)))
    assert(bpeShards <= wsShards,
      s"encoded accounting must not need MORE shards: $bpeShards > $wsShards")
  }

  test("round-13 stage: post-pack FIM rewrites in place, rerun-reproducibly") {
    val docs = Tables.documents(spark, sf)
    def run() = CuratePipeline.run(spark, docs,
      minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 20,
      fimRatePermille = Some(500), fimSeed = 17L)
    val out = run().select("doc_id", "split", "shard", "n_tokens", "fim", "text")
      .as[(Long, String, Long, Long, Boolean, String)].collect().toSeq
    val base = CuratePipeline.run(spark, docs,
      minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 20)
      .select("doc_id", "split", "shard", "n_tokens", "text")
      .as[(Long, String, Long, Long, String)].collect().toSeq

    // FIM is POST-pack: shard membership, splits and budgets identical
    assert(out.map(r => (r._1, r._2, r._3, r._4)).sorted ==
      base.map(r => (r._1, r._2, r._3, r._4)).sorted,
      "FIM must not move a doc between shards or change its budget weight")

    // selected docs match the standalone q192 operator; pass-throughs
    // keep their packed text BYTE-identical to the no-FIM run (ADVICE
    // r13: enabling FIM must not whitespace-normalize unselected docs)
    val want = Sharding.fimTransform(
        docs.select("doc_id", "text"), ratePermille = 500, seed = 17L)
      .select("doc_id", "fim", "text_fim")
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val baseText = base.map(r => r._1 -> r._5).toMap
    assert(out.forall { case (id, _, _, _, fim, text) =>
      fim == want(id)._1 &&
        (if (fim) text == want(id)._2 else text == baseText(id)) },
      "selected docs PSM-reordered, pass-throughs byte-identical")
    assert(out.exists(_._5) && out.exists(!_._5),
      "fixture must exercise both arms")
    assert(out.filter(_._5).forall(_._6.startsWith("<PRE> ")))

    // deterministic rerun
    assert(run().select("doc_id", "split", "shard", "n_tokens", "fim", "text")
      .as[(Long, String, Long, Long, Boolean, String)].collect().toSeq
      .sorted == out.sorted)
  }

  test("round-13 stage: the CCNet LM gate drops exactly the below-quantile tail") {
    val docs = Tables.documents(spark, sf)
    val langs = Seq("en", "de", "es", "fr", "und")
    // the reference set: the pipeline's own heuristic-gate stage, then
    // the q106 operator at the same quantile — the docs the LM gate is
    // allowed to pass through
    val heur = graft.ext.TextAnalysis.curateCorpus(docs, 0.3, langs)
    val kept = graft.ext.NgramLM.perplexityFilter(heur, 0.2)
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    val heurIds = heur.select("doc_id").as[Long].collect().toSet
    assert(kept.size < heurIds.size,
      "the fixture must actually cut an LM tail")
    def run(q: Option[Double]) = CuratePipeline.run(spark, docs,
      minQuality = 0.3, langs = langs, tokenBudget = 2000,
      perSourceCap = 1000000, perplexityKeepQuantile = q)
      .select("doc_id").as[Long].collect().toSet
    val gated = run(Some(0.2))
    // every shard survivor passed the LM filter; the gate bites
    assert(gated.subsetOf(kept),
      "a doc that failed the LM gate must never reach the shards")
    assert(run(None).exists(id => !kept.contains(id)),
      "without the gate, some below-quantile doc must reach the shards")
    // deterministic rerun
    assert(run(Some(0.2)) == gated)
  }

  test("round-15 stage: the KN gate scores through the serving artifact") {
    val docs = Tables.documents(spark, sf)
    val langs = Seq("en", "de", "es", "fr", "und")
    // a PRETRAINED artifact (here trained on the full corpus — the
    // stand-in for the reference-corpus model CCNet actually ships),
    // exported once and handed to the pipeline as a path
    val dir = tmpDir("curate-knm")
    graft.ext.KnModel.export(docs, 3, 1e-4, dir)
    // the reference set: the pipeline's own heuristic-gate stage, then
    // STANDALONE scoring through the same artifact at the same quantile
    // — the docs the KN gate is allowed to pass through
    val heur = graft.ext.TextAnalysis.curateCorpus(docs, 0.3, langs)
    val scored = graft.ext.KnModel.scoreAny(spark, dir, heur)
    val thr = scored.agg(expr("percentile(avg_lp, 0.2)"))
      .head().getDouble(0)
    val kept = scored.filter(col("avg_lp") >= thr)
      .select("doc_id").as[Long].collect().toSet
    val heurIds = heur.select("doc_id").as[Long].collect().toSet
    assert(kept.size < heurIds.size,
      "the fixture must actually cut an LM tail")
    def run(knd: Option[String]) = CuratePipeline.run(spark, docs,
      minQuality = 0.3, langs = langs, tokenBudget = 2000,
      perSourceCap = 1000000, knModelDir = knd, knKeepQuantile = 0.2)
      .select("doc_id").as[Long].collect().toSet
    val gated = run(Some(dir))
    assert(gated.subsetOf(kept),
      "a doc that failed the KN gate must never reach the shards")
    assert(run(None).exists(id => !kept.contains(id)),
      "without the gate, some below-quantile doc must reach the shards")
    // deterministic rerun; the two LM-gate slots are mutually exclusive
    assert(run(Some(dir)) == gated)
    intercept[IllegalArgumentException] {
      CuratePipeline.run(spark, docs, 0.3, langs, 2000, 10,
        perplexityKeepQuantile = Some(0.2), knModelDir = Some(dir))
    }
  }

  test("round-16: fully-OOV docs drop at the KN gate instead of always passing") {
    // ADVICE r15: the scorers coalesce a fully-OOV doc's avg_lp to 0.0
    // — the MAXIMUM, since real log-probs are negative — so under a
    // pretrained reference model (where OOV can occur, unlike the
    // self-trained gate) the least-covered docs always passed AND
    // pulled the percentile threshold upward, inverting the filter.
    // Fixture: a model trained on an in-vocab corpus, then a doc set
    // mixing scoreable docs with docs made ENTIRELY of unseen tokens.
    val trainTxt = "the quick brown fox jumps over the lazy dog again and again"
    val train = (1L to 8L).map(i => (i, trainTxt)).toDF("doc_id", "text")
    val dir = tmpDir("curate-knm-oov")
    graft.ext.KnModel.export(train, 3, 1e-4, dir)
    val mk = (id: Long, text: String) =>
      (id, text, "en", "src", text.length.toLong)
    // distinct texts throughout — curateCorpus near-dedups at 0.5, so
    // duplicate fixtures would collapse before the KN gate
    val docs = Seq(
      mk(1L, "dog fox the brown lazy over jumps quick the again and"), // shuffled: worse avg_lp
      mk(2L, trainTxt), // fluent under the model
      mk(100L, "zzq wwk vvx uui ttb rrn ppl mmd kkf hhg zzq wwk"), // fully OOV
      mk(101L, "qqa qqb qqc qqd qqe qqf qqg qqh qqi qqj qqa qqb")  // fully OOV
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // fixture sanity: the OOV docs must SURVIVE the heuristic gate, so
    // the KN gate is genuinely what drops them below
    val heurIds = graft.ext.TextAnalysis
      .curateCorpus(docs, 0.0, Seq("en", "de", "es", "fr", "und"))
      .select("doc_id").as[Long].collect().toSet
    assert(Seq(100L, 101L).forall(heurIds.contains),
      s"fixture: OOV docs must reach the KN gate, heuristics kept $heurIds")
    def run(q: Double) = CuratePipeline.run(spark, docs,
      minQuality = 0.0, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 100000, perSourceCap = 1000000,
      knModelDir = Some(dir), knKeepQuantile = q)
      .select("doc_id").as[Long].collect().toSet
    val gated = run(0.5)
    assert(!gated.contains(100L) && !gated.contains(101L),
      s"fully-OOV docs must drop at the KN gate, got $gated")
    // the threshold came from the SCOREABLE docs alone: the fluent doc
    // sits above the {fluent, shuffled} midpoint and survives — under
    // the inverted (pre-fix) gate the two OOV docs' coalesced 0.0
    // scores pull the median ABOVE every real log-prob and doc 2 drops
    assert(gated.contains(2L),
      s"the fluent in-vocab doc must survive the median gate, got $gated")
    // even a keep-everything quantile never readmits unscorable docs
    val all = run(0.0)
    assert(!all.contains(100L) && !all.contains(101L))
    assert(Seq(1L, 2L).forall(all.contains),
      s"quantile 0 must keep every scoreable doc, got $all")
  }

  test("round-13 stage: BFD shard layout never overflows the capacity") {
    val docs = Tables.documents(spark, sf)
    def run() = CuratePipeline.run(spark, docs,
      minQuality = 0.3, langs = Seq("en", "de", "es", "fr", "und"),
      tokenBudget = 2000, perSourceCap = 20,
      bfdCapacity = Some(200L), bfdBucketSize = 4096L)
    val rows = run().select("doc_id", "split", "shard", "n_tokens")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // bins NEVER overflow: a multi-doc shard's total stays within the
    // capacity (only a single oversized doc may exceed it, alone)
    rows.groupBy(r => (r._2, r._3)).foreach { case ((sp, sh), rs) =>
      val tot = rs.map(_._4).sum
      assert(rs.size == 1 || tot <= 200L,
        s"$sp shard $sh overflows: $tot tokens over ${rs.size} docs")
    }
    // the layout uses strictly fewer-or-equal bins than first-fit over
    // the same per-split doc sets (the padding win the stage exists for)
    val bySplit = rows.groupBy(_._2)
    bySplit.foreach { case (sp, rs) =>
      val ids = rs.map(_._1).toSet
      val ff = Sharding.ffPack(
          docs.filter(col("doc_id").isin(ids.toSeq: _*))
            .select(col("doc_id"),
              graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", 200L, 4096L)
        .select("bucket", "bin").distinct().count()
      val bfdBins = rs.map(_._3).distinct.size
      assert(bfdBins <= ff, s"$sp: BFD used $bfdBins bins, FF $ff")
    }
    // deterministic rerun
    assert(run().select("doc_id", "split", "shard", "n_tokens")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted == rows.sorted)
  }
}
