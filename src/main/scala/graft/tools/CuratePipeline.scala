package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.ext.{Dedup, NaiveBayes, NgramLM, Sharding, TextAnalysis}

/** End-to-end training-corpus curation CLI — the pipeline a data team
  * runs over raw documents, composed from the verified operators:
  *
  *   1. quality + language gates   (TextAnalysis.curateCorpus: score,
  *      filter, LSH near-dedup of the survivors)
  *   2. optional benchmark decontamination (Dedup.decontaminate)
  *   3. per-source contribution cap (Sharding.capPerGroup)
  *   4. deterministic train/val/test split (Sharding.assignSplit)
  *   5. token-budget sequence packing per split (Sharding.packShards)
  *   6. write parquet partitioned by (split, shard) — the layout a
  *      trainer streams shard-by-shard
  *
  * Every stage is deterministic (no RNG state), so reruns produce
  * byte-identical shards — the property that makes corpus builds
  * reproducible and incremental.
  *
  * usage: CuratePipeline <docsParquet> <outDir> [minQuality] [langs,csv]
  *                       [tokenBudget] [perSourceCap]
  */
object CuratePipeline {

  /** The pipeline as a function (CLI-independent, spec-driven). Returns
    * the curated, split, packed frame that `main` writes.
    *
    * Round-7 optional stages (each composes a verified operator):
    *  - `nbLangTrain`: raw crawls often lack language metadata — when
    *    given, every doc's `lang` is REPLACED by the Naive Bayes
    *    prediction of a classifier trained on this labeled frame
    *    ([[NaiveBayes.trainScore]]), and the `langs` gate applies to
    *    predictions;
    *  - `spanDedupWidth`: C4 duplicate-span removal after the quality
    *    gates ([[Dedup.dedupTiles]]) — doc text becomes the cleaned
    *    reconstruction, fully-duplicated documents drop;
    *  - `temperatureTarget`: replaces the flat per-source cap with
    *    sqrt-law temperature mixing ([[Sharding.temperatureMix]]).
    *
    * Round-8 optional stages:
    *  - `bloomDecontaminate`: runs the benchmark stage through
    *    [[Dedup.decontaminateBloom]] — bit-identical flags, but the
    *    corpus's shingle stream is bloom-cut before the join shuffle
    *    (the switch a deployment flips once the benchmark suite
    *    outgrows the broadcast threshold);
    *  - `seqLen`: the final layout becomes GPT-style fixed-length
    *    training sequences ([[Sharding.packSequences]], per split) —
    *    each output row is a document span, `shard` is the sequence
    *    id, every sequence except a split's last is exactly full.
    *
    * Round-9 optional stages:
    *  - `maxDirtyFrac`: a PER-DOC contamination gate on top of the
    *    pair-level decontaminate anti-join — docs whose
    *    [[Dedup.contaminationProfile]] dirty fraction exceeds the
    *    threshold drop even when no single benchmark item is contained
    *    (diffuse leakage across many items);
    *  - `epochSeed` (with `seqLen`): each split's sequence ids are
    *    renumbered by the seeded deterministic permutation
    *    ([[Sharding.epochShuffle]]) so a trainer reading shards in
    *    order sees a decorrelated document order; sequence membership
    *    is untouched;
    *  - `dropRepetitive`: the Gopher within-document repetition gate
    *    ([[TextAnalysis.repetitionProfile]] default thresholds) right
    *    after the quality/language gates — template/boilerplate pages
    *    drop before the (more expensive) span dedup ever tokenizes
    *    them.
    *
    * Late round-8 optional stages:
    *  - `containmentThreshold`: asymmetric containment dedup
    *    ([[Dedup.containmentPairs]]) after the symmetric near-dup pass —
    *    a doc whose shingle set is ≥ the threshold contained in a
    *    BIGGER surviving doc drops (its text already lives there);
    *    Jaccard dedup cannot see these pairs. Posting lists cap at 10⁵
    *    (recall-only, the boilerplate-shingle guard);
    *  - `weightedSampleK` (mutually exclusive with `temperatureTarget`):
    *    replaces the flat per-source cap with weight-proportional
    *    sampling — per source, keep `k` docs sampled ∝ quality score
    *    ([[Sharding.weightedSample]], seeded, deterministic re-deal):
    *    the cap keeps the BEST-hash docs, this keeps a quality-tilted
    *    random sample, the standard shrink when a source must downsize
    *    without collapsing to only its top-scored pages
    *    (`normalizeSampleWeights` makes the tilt scale-free: weights
    *    become per-source ECDF percentile ranks of the score);
    *  - `leakageSplitThreshold`: the train/val/test assignment becomes
    *    cluster-aware ([[Sharding.leakageSafeSplit]]) — near-dup pairs
    *    at this Jaccard threshold can never straddle a split boundary.
    *    Set it BELOW the dedup pass's threshold: the survivors are
    *    near-dup-free at the dedup level, but weaker look-alikes (a
    *    paraphrase, a partially-overlapping scrape) still leak eval
    *    answers if one lands in train and the other in test.
    *
    * Round-10 optional stage:
    *  - `substrDecontaminateMinLen` (requires `benchmarks`): exact
    *    substring decontamination SURGERY ([[Dedup
    *    .exactSubstrDecontaminate]]) after the doc-level flag stage —
    *    every remaining token covered by a ≥ minLen-token window that
    *    appears anywhere in the benchmark suite is CUT OUT of the
    *    text (all occurrences), instead of the whole doc dropping.
    *    The flag stages catch docs that contain whole benchmark items;
    *    this removes the sub-threshold residue they keep — a quoted
    *    test question inside an otherwise-clean page survives the
    *    flags but not the scalpel. Docs cut to nothing drop.
    *  - `bpeMerges`: count packing/budget tokens with a TRAINED BPE
    *    merge table instead of whitespace — production budgets are
    *    measured in TOKENIZER tokens, and a whitespace count
    *    systematically over-charges compressible (templated,
    *    repetitive) text, skewing shard sizes. `n_tokens` becomes the
    *    encoded length through the depth-independent indexed kernel
    *    ([[graft.functions.BpeApplyMergesIndexed]] — one map-only
    *    expression, no extra pass), so every downstream consumer
    *    (token budget, sequence packing, shard stats) counts what the
    *    training job will actually see.
    *
    * Round-13 optional stages:
    *  - `perplexityKeepQuantile`: the CCNet LM gate ([[NgramLM
    *    .perplexityFilter]], q106) right after the curateCorpus stage
    *    (heuristic gates + near-dedup, the CCNet order) — documents
    *    below the given quantile of
    *    corpus-self-trained bigram log-likelihood drop. The heuristic
    *    gates catch structural junk (length, symbols, stopwords); the
    *    LM gate catches FLUENT-LOOKING junk those signals pass (keyword
    *    stuffing, word salad with plausible lengths). Trained on the
    *    gate survivors, so the model scores the distribution it
    *    filters.
    *  - `bfdCapacity` (mutually exclusive with `seqLen`): the final
    *    layout becomes best-fit-decreasing bins ([[Sharding.bfdPack]],
    *    q199) instead of the id-order greedy — shards NEVER overflow
    *    the capacity (the greedy's shards overflow by up to one doc),
    *    and padding is measurably lower than first-fit placement; the
    *    trade is shard id-contiguity, which the greedy keeps and BFD
    *    gives up. `shard` encodes (bucket, bin) as
    *    bucket × bfdBucketSize + bin − 1 — unique by construction
    *    since a bucket of B docs opens at most B bins.
    *  - `fimRatePermille`: the fill-in-the-middle reorder
    *    ([[Sharding.fimTransform]], q192) as the LAST stage, after
    *    packing — shard membership and budgets are decided on the
    *    original text, then the selected fraction of documents rewrites
    *    to `<PRE> prefix <SUF> suffix <MID> middle` in place (the
    *    Bavarian et al. 2022 recipe: infill training data is a
    *    REORDERING, so applying it post-pack changes no shard shape;
    *    the 3 sentinel tokens per transformed doc are the only budget
    *    delta and are deliberately NOT re-counted). Selection and split
    *    points are pure functions of (doc_id, fimSeed), so reruns stay
    *    byte-identical — the pipeline's defining property.
    *
    * Round-15 optional stage:
    *  - `knModelDir` (+ `knKeepQuantile`, mutually exclusive with
    *    `perplexityKeepQuantile`): the CCNet LM gate scored through a
    *    PRETRAINED pruned-KN serving artifact ([[graft.ext.KnModel]],
    *    the q209/q210 export) instead of the self-trained Laplace
    *    bigram — the composition CCNet actually runs (a KenLM model
    *    trained on a reference corpus filters the crawl). The
    *    artifact's n-gram order is auto-detected from the dir; docs
    *    below the `knKeepQuantile` exact percentile of avg_lp drop. */
  def run(spark: SparkSession, docs: DataFrame,
          minQuality: Double, langs: Seq[String],
          tokenBudget: Long, perSourceCap: Int,
          benchmarks: Option[DataFrame] = None,
          nbLangTrain: Option[DataFrame] = None,
          spanDedupWidth: Option[Int] = None,
          temperatureTarget: Option[Long] = None,
          bloomDecontaminate: Boolean = false,
          seqLen: Option[Long] = None,
          maxDirtyFrac: Option[Double] = None,
          epochSeed: Option[Long] = None,
          dropRepetitive: Boolean = false,
          containmentThreshold: Option[Double] = None,
          weightedSampleK: Option[Int] = None,
          sampleSeed: Long = 42L,
          leakageSplitThreshold: Option[Double] = None,
          normalizeSampleWeights: Boolean = false,
          substrDecontaminateMinLen: Option[Int] = None,
          bpeMerges: Option[Seq[(String, String)]] = None,
          fimRatePermille: Option[Int] = None,
          fimSeed: Long = 17L,
          bfdCapacity: Option[Long] = None,
          bfdBucketSize: Long = 4096L,
          perplexityKeepQuantile: Option[Double] = None,
          knModelDir: Option[String] = None,
          knKeepQuantile: Double = 0.5): DataFrame = {
    require(temperatureTarget.isEmpty || weightedSampleK.isEmpty,
      "temperatureTarget and weightedSampleK both replace the per-source cap — pick one")
    require(perplexityKeepQuantile.isEmpty || knModelDir.isEmpty,
      "perplexityKeepQuantile and knModelDir both fill the CCNet LM-gate slot — pick one")
    require(bfdCapacity.isEmpty || seqLen.isEmpty,
      "bfdCapacity and seqLen both replace the shard layout — pick one")
    require(substrDecontaminateMinLen.isEmpty || benchmarks.nonEmpty,
      "substrDecontaminateMinLen needs a benchmarks frame to cut against")
    val labeled = nbLangTrain match {
      case Some(train) =>
        val pred = NaiveBayes.trainScore(train, docs, "lang")
          .select(col("doc_id"), col("label_pred"))
        docs.drop("lang").join(pred, Seq("doc_id"))
          .withColumnRenamed("label_pred", "lang")
      case None => docs
    }
    val gated = TextAnalysis.curateCorpus(labeled, minQuality, langs)
    val lmGated = (perplexityKeepQuantile, knModelDir) match {
      case (Some(q), _) =>
        // the CCNet LM gate: self-trained on the heuristic-gate
        // survivors, one exact percentile over the O(docs) scored frame
        gated.join(
          NgramLM.perplexityFilter(gated, keepQuantile = q)
            .filter(col("kept")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      case (None, Some(dir)) =>
        // the CCNet gate proper (r15, VERDICT r14 #3): score through a
        // PRETRAINED pruned-KN serving artifact ([[graft.ext.KnModel]],
        // the q209/q210 export — CCNet filters on a KenLM model trained
        // on a reference corpus, not on add-one smoothing over the very
        // docs being filtered). The artifact's order (bigram/trigram)
        // is auto-detected; scoring is bounded-frame equi-joins, the
        // threshold one exact percentile over the O(docs) scored frame.
        // Docs the model cannot score (< order tokens: no grams) drop,
        // the perplexityKeepQuantile convention. FULLY-OOV docs (every
        // gram unseen by the reference model: n_oov = n_grams) also
        // drop, BEFORE the percentile (ADVICE r15): the scorer's
        // coalesce gives them avg_lp 0.0 — the maximum, since real
        // log-probs are negative — so under a pretrained model (where
        // OOV can occur, unlike the self-trained gate) the LEAST
        // covered docs would otherwise always pass and pull the
        // threshold upward, inverting the filter. CCNet's convention:
        // a doc the reference LM has no evidence for is not fluent.
        val scored = graft.ext.KnModel.scoreAny(spark, dir, gated)
          .filter(col("n_oov") < col("n_grams"))
        val thr = scored.agg(
          expr(s"percentile(avg_lp, $knKeepQuantile)").as("thr"))
        gated.join(
          scored.crossJoin(broadcast(thr))
            .filter(col("avg_lp") >= col("thr")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      case _ => gated
    }
    val curated =
      if (!dropRepetitive) lmGated
      else lmGated.join(
        TextAnalysis.repetitionProfile(lmGated)
          .filter(col("repetitive")).select("doc_id"),
        Seq("doc_id"), "left_anti")
    val spanned = spanDedupWidth match {
      case Some(w) =>
        val cleaned = Dedup.dedupTiles(curated, "doc_id", "text", w)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("text_clean"))
        curated.drop("text").join(cleaned, Seq("doc_id"))
          .withColumnRenamed("text_clean", "text")
      case None => curated
    }
    val contained = containmentThreshold match {
      case Some(t) =>
        // drop the SMALLER (contained) side only: the bigger page keeps
        // the text once; chained containments resolve conservatively
        // (a doc drops if contained in ANY bigger survivor)
        val drops = Dedup.containmentPairs(spanned, "doc_id", "text",
            threshold = t, maxPostingLen = 100000L)
          .select(col("id_small").as("doc_id")).distinct()
        spanned.join(drops, Seq("doc_id"), "left_anti")
      case None => spanned
    }
    val clean = benchmarks match {
      case Some(b) =>
        val flags =
          if (bloomDecontaminate)
            Dedup.decontaminateBloom(contained, b, "doc_id", "text")
          else Dedup.decontaminate(contained, b, "doc_id", "text")
        val pairClean = contained.join(flags.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        maxDirtyFrac match {
          case Some(t) =>
            val dirty = Dedup.contaminationProfile(pairClean, b, "doc_id", "text")
              .filter(col("dirty_frac") > t).select("doc_id")
            pairClean.join(dirty, Seq("doc_id"), "left_anti")
          case None => pairClean
        }
      case None => contained
    }
    // surgery AFTER the flag stages: the flags dropped whole-item
    // carriers; the scalpel rewrites what's left, so only benchmark
    // windows the flags were too coarse to see reach it
    val excised = (benchmarks, substrDecontaminateMinLen) match {
      case (Some(b), Some(ml)) =>
        val cut = Dedup.exactSubstrDecontaminate(clean, b, "doc_id", "text",
            minLen = ml)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("text_clean"))
        clean.drop("text").join(cut, Seq("doc_id"))
          .withColumnRenamed("text_clean", "text")
      case _ => clean
    }
    val capped = (temperatureTarget, weightedSampleK) match {
      case (Some(t), _) => Sharding.temperatureMix(excised, "source", "doc_id", t)
      case (None, Some(k)) =>
        // normalizeSampleWeights: weights become each doc's per-source
        // ECDF percentile rank of quality_score (integer microunits,
        // +1 so no weight is zero) instead of the raw score — the tilt
        // becomes scale-free, so a source whose scorer clusters at 0.9
        // and one clustering at 0.1 get the SAME relative preference
        // for their better pages (q159's transform feeding q149's
        // sampler)
        val weighted =
          if (!normalizeSampleWeights) excised.withColumn("__w", col("quality_score"))
          else excised.join(
            graft.ext.RobustStats.ecdfNormalize(
                excised.withColumn("__qm",
                  floor(col("quality_score") * 1e6).cast("long")),
                "source", col("__qm"), "doc_id")
              .select(col("doc_id"), (col("pct_micro") + 1).as("__w")),
            Seq("doc_id"))
        val picks = Sharding.weightedSample(weighted, "source", "__w",
            k, idCol = "doc_id", seed = sampleSeed)
          .select(col("id").as("doc_id"))
        excised.join(picks, Seq("doc_id"), "left_semi")
      case _ => Sharding.capPerGroup(excised, "source", "doc_id", perSourceCap)
    }
    val split = (leakageSplitThreshold match {
      case Some(t) =>
        // cluster-aware assignment: whole near-dup clusters move
        // together, so a test doc can never have a train-side look-alike
        val assigned = Sharding.leakageSafeSplit(capped,
            Dedup.minhashNearDupPairsAuto(capped, "doc_id", "text",
              threshold = t), "doc_id")
          .select("doc_id", "split")
        capped.join(assigned, Seq("doc_id"))
      case None => Sharding.assignSplit(capped, "doc_id")
    }).withColumn("n_tokens", bpeMerges match {
      // tokenizer-token accounting: the budget/packing weight is the
      // ENCODED length under the trained table — same one-map-pass
      // plan shape as the whitespace count (the table rides as a
      // codegen reference object)
      case Some(m) => size(graft.functions.VectorFunctions
          .bpe_apply_merges_indexed(
            org.apache.spark.sql.functions.split(col("text"), " "),
            m.map(_._1), m.map(_._2))).cast("long")
      case None => TextAnalysis.tokenCount(col("text"))
    })
    // pack WITHIN each split (a val doc must never share a shard with a
    // train doc): three small packing passes, one per split value
    Seq("train", "val", "test").map { sp =>
      val part = split.filter(col("split") === sp)
      seqLen match {
        case Some(l) =>
          // concat-and-chop layout: spans join their doc's metadata
          // back, the sequence id becomes the shard key
          val packed = part.join(
            Sharding.packSequences(
                part.select("doc_id", "n_tokens"), "doc_id", "n_tokens", l)
              .withColumnRenamed("seq_id", "shard")
              .drop("n_tokens"),
            Seq("doc_id"))
          epochSeed match {
            case Some(seed) =>
              // renumber sequences by the seeded permutation: membership
              // untouched, read order decorrelated from document order
              val perm = Sharding.epochShuffle(
                  packed.select(col("shard").as("__seq")).distinct(),
                  "__seq", seed, shardSize = 1L)
                .select(col("__seq").as("shard"), col("epoch_pos").as("__shuffled"))
              packed.join(perm, Seq("shard"))
                .drop("shard").withColumnRenamed("__shuffled", "shard")
            case None => packed
          }
        case None => bfdCapacity match {
          case Some(cap) =>
            // BFD layout: assignment joins back on doc_id; shard
            // encodes (bucket, bin) uniquely (bins per bucket ≤ docs
            // per bucket ≤ bfdBucketSize)
            val assign = Sharding.bfdPack(
                part.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
                cap, bfdBucketSize)
              .select(col("doc_id"),
                (col("bucket") * bfdBucketSize + col("bin") - 1).as("shard"))
            part.join(assign, Seq("doc_id"))
          case None =>
            Sharding.packShards(part, "doc_id", "n_tokens", tokenBudget)
        }
      }
    }.reduce(_ unionByName _) match {
      case packed => fimRatePermille match {
        case Some(rate) =>
          // post-pack FIM: one transform per DISTINCT doc (the seqLen
          // layout emits one row per doc-span — the reorder must not
          // depend on how many sequences a doc straddles), joined back
          // on doc_id; `fim` flags the rewritten docs for the trainer.
          // Only the SELECTED fraction joins (ADVICE r13: replacing
          // every doc with text_fim silently whitespace-normalized the
          // pass-throughs), and the join is LEFT so packed rows stay
          // authoritative: an unselected — or null-text — doc keeps its
          // text byte-identical and is never dropped.
          val fimmed = Sharding.fimTransform(
              packed.select(col("doc_id"), col("text")).dropDuplicates("doc_id"),
              "doc_id", "text", ratePermille = rate, seed = fimSeed)
            .filter(col("fim"))
            .select(col("doc_id"), col("text_fim"))
          packed.join(fimmed, Seq("doc_id"), "left")
            .withColumn("fim", col("text_fim").isNotNull)
            .withColumn("text", coalesce(col("text_fim"), col("text")))
            .drop("text_fim")
        case None => packed
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: CuratePipeline <docsParquet> <outDir> " +
        "[minQuality] [langs,csv] [tokenBudget] [perSourceCap]")
      sys.exit(2)
    }
    val docsPath = args(0); val outDir = args(1)
    val minQuality = if (args.length > 2) args(2).toDouble else 0.5
    val langs = if (args.length > 3) args(3).split(",").toSeq else Seq("en")
    val budget = if (args.length > 4) args(4).toLong else 1 << 20
    val cap = if (args.length > 5) args(5).toInt else 1000000

    val spark = GraftSession.create(
      sys.env.getOrElse("SPARK_MASTER", s"local[${GraftSession.localCpus}]"), "graft-curate")
    spark.sparkContext.setLogLevel("WARN")

    val out = run(spark, spark.read.parquet(docsPath), minQuality, langs, budget, cap)
    out.write.mode("overwrite").partitionBy("split", "shard").parquet(outDir)
    val stats = spark.read.parquet(outDir)
      .groupBy("split").agg(count(lit(1)).as("docs"),
        countDistinct(col("shard")).as("shards"), sum(col("n_tokens")).as("tokens"))
      .orderBy("split").collect()
    stats.foreach(r => println(s"[curate] ${r.mkString(" ")}"))
    spark.stop()
  }
}
