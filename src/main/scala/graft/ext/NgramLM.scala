package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model scoring over a corpus — the two
  * standard uses in a training-data pipeline:
  *
  *  - '''perplexity filtering''' (CCNet, Wenzek et al. 2020,
  *    arXiv:1911.00359): score every document under an n-gram LM and
  *    drop the worst tail — the cheap proxy for "is this fluent text".
  *    The reference pipeline uses KenLM; the models here are a
  *    Laplace-smoothed bigram LM and the interpolated Kneser-Ney family
  *    at orders 2–4, trained on the corpus itself, which keeps the whole
  *    thing exactly recomputable by an independent engine.
  *  - '''importance resampling''' (DSIR, Xie et al. 2023,
  *    arXiv:2302.03169): weight every raw document by
  *    log p_target(d) − log p_raw(d) under two unigram feature LMs and
  *    keep the top of the reweighted distribution. The paper hashes
  *    n-gram features into 10k buckets; with a closed test vocabulary
  *    plain unigrams are the same estimator (the hash is a modular
  *    `hash(term) % B` swap on the group key).
  *
  * Scale shape: every model is a pre-aggregated count frame (vocab- or
  * n-gram-vocab-sized, map-side combinable), documents reduce to
  * per-doc (gram, n) frames before any join, and count frames join
  * back by key — no per-row UDF, no driver-side model object, no
  * window over the corpus. Threshold selection (the filter quantile)
  * is one exact percentile over a doc-count-sized frame.
  */
object NgramLM {

  /** The word columns w1..wn of an n-gram frame. */
  private[graft] def words(n: Int): Seq[String] = (1 to n).map(i => s"w$i")

  private def cols(names: Seq[String]): Seq[Column] = names.map(col)

  /** The n-gram order of a frame carrying `w1..wn` columns. */
  private def orderOf(df: DataFrame): Int = df.columns.count(_.matches("w\\d+"))

  /** Adjacent n-gram counts from a space-tokenized text column, keyed
    * by `doc_id` when `idCol` is given. One `transform` over the token
    * array — no self-join, no posexplode matching. */
  private def ngrams(docs: DataFrame, n: Int, idCol: Option[String],
                     textCol: String): DataFrame = {
    // PROJECT the token array before indexing into it: inside the
    // transform lambda, an inline `split(...)` expression re-evaluates
    // for every element_at call — O(tokens²) splits per document
    // (measured 3 s for 270k bigrams at sf0.1). A bound column attribute
    // evaluates once per row, making the lambda O(tokens).
    val toks = col("__toks")
    val key = idCol.toSeq.map(_ => "doc_id")
    docs.select(idCol.toSeq.map(c => col(c).as("doc_id")) :+
        split(col(textCol), " ").as("__toks"): _*)
      // size < n would make sequence(0, size-n) DESCEND and
      // element_at(toks, 0) throw — short docs have no n-grams
      .filter(size(toks) >= n)
      .select(cols(key) :+ explode(transform(sequence(lit(0), size(toks) - n),
        i => struct(words(n).zipWithIndex.map { case (w, j) =>
          element_at(toks, i + (j + 1)).as(w) }: _*))).as("g"): _*)
      .select(cols(key) ++ words(n).map(w => col(s"g.$w")): _*)
      .groupBy(cols(key ++ words(n)): _*).agg(count(lit(1)).as("n"))
  }

  /** Per-document (doc_id, w1..wn, n) adjacent n-gram counts; docs with
    * fewer than n tokens contribute nothing. */
  def docNgrams(docs: DataFrame, n: Int, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    ngrams(docs, n, Some(idCol), textCol)

  /** Corpus-level (w1..wn, n) n-gram counts with NO per-document axis —
    * the maintained-store partial ([[graft.streaming.NgramCountStream]]).
    * The count multiset is invariant to how documents are keyed, so
    * this skips the per-doc grouping entirely: one explode, ONE shuffle
    * on the n-gram, and no dependence on any id column (ADVICE r13 — the
    * store must ingest a corpus however, or whether, it is keyed). */
  def corpusNgrams(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    ngrams(docs, n, None, textCol)

  /** Average bigram log-likelihood per document under a
    * Laplace-smoothed bigram LM trained on `train` (usually the corpus
    * itself):
    *
    *   logP(w2|w1) = ln((c(w1,w2) + 1) / (c(w1·) + V))
    *
    * where c(w1·) is w1's count as a bigram CONTEXT (both counts derive
    * from the same bigram frame, so the model is self-consistent and
    * independently recomputable) and V is the distinct-unigram count of
    * the training corpus. Unseen bigrams whose context was seen still
    * score via smoothing; the left-join keeps c12 = 0 rows finite.
    *
    * Output: (doc_id, n_bigrams, avg_lp) with avg_lp rounded to
    * `scale` decimals — the per-doc sum is ≤ doc-length ln() terms, so
    * cross-engine libm 1-ulp drift is ~1e-13 relative, far inside a
    * 4-decimal round. */
  def bigramLogLik(docs: DataFrame, train: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   scale: Int = 4): DataFrame = {
    // The per-doc bigram frame is the expensive subtree (token explode +
    // shuffle); without intervention it appears 2-4× in the final DAG
    // (grams, c12←train, and once more per downstream reuse) and Spark
    // does not reliably fold the copies into one exchange. Persist it
    // once; when train IS docs (the self-trained filter), the model
    // counts derive from the SAME cached frame, so the corpus is
    // exploded exactly once. Spill-safe (MEMORY_AND_DISK): the frame is
    // (doc, w1, w2, n) — tokens-sized, never wider than the input text.
    val grams = docNgrams(docs, 2, idCol, textCol).persist()
    val trainGrams =
      if (train eq docs) grams else docNgrams(train, 2, idCol, textCol).persist()
    try {
    val c12 = trainGrams.groupBy("w1", "w2").agg(sum("n").as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = train
      .select(explode(split(col(textCol), " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    grams
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        col("n") * log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"),
        round(sum("lp") / sum("n"), scale).as("avg_lp"))
      // O(docs) rows, 3 columns: eager-materialize so callers that use
      // the scored frame twice (threshold + gate) never re-run the LM.
      .localCheckpoint(true)
    } finally {
      // unpersist even when the compute throws (a failing query must not
      // leak cached frames into executor storage for the session's life)
      grams.unpersist(false)
      if (!(train eq docs)) trainGrams.unpersist(false): Unit
    }
  }

  // ---- interpolated Kneser-Ney, orders 2–4 ----

  /** "w2", "w3" → "23": the suffix of a level's column names. */
  private def indices(ws: Seq[String]): String = ws.map(_.tail).mkString

  /** The gram-count column of the per-document KN output at each order. */
  private val GramsCol = Map(2 -> "n_bigrams", 3 -> "n_trigrams", 4 -> "n_quadgrams")

  /** One level of the interpolated-KN recursion over the word columns
    * `ws`: its type table `types` (ws, c) — raw counts at the top
    * order, continuation counts below — and its history totals `hist`
    * (ws.init, cdot, nf). Column names carry the level's word indices
    * (c12, c123, c23, …), so every level joins into one frame. */
  private final case class Level(ws: Seq[String], types: DataFrame) {
    private val tag = indices(ws)
    val c = s"c$tag"
    val cdot = s"cdot$tag"
    val nf = s"nf$tag"
    val n1 = s"n1_$tag"
    val n2 = s"n2_$tag"
    /** Σ c over a history's kept entries (the pruned γ telescope). */
    val s = s"s$tag"

    lazy val hist: DataFrame = types.groupBy(cols(ws.init): _*)
      .agg(sum(c).as(cdot), count(lit(1)).as(nf))

    def countOfCounts: Seq[Column] = Seq(
      sum(when(col(c) === 1, 1L).otherwise(0L)).as(n1),
      sum(when(col(c) === 2, 1L).otherwise(0L)).as(n2))

    /** The count-of-counts discount D = n1 / (n1 + 2·n2), floored at 0.5
      * when n1 = 0 (the degenerate-discount guard in [[knLogLik]]). */
    val d: Column = when(col(n1) === 0, lit(0.5))
      .otherwise(col(n1).cast("double") / (col(n1) + lit(2) * col(n2)))

    /** The back-off weight D·N1+(h,·)/c(h·). */
    val bow: Column = d * col(nf) / col(cdot)

    /** max(c − D, 0)/c(h·) + bow·lower — the interpolation step. For an
      * `explicit` entry (c ≥ 1 ≥ D) the max and the unseen-c default are
      * identities and are left out, which keeps the generated code of
      * the loss and kept arms small. */
    def interp(lower: Column, explicit: Boolean = false): Column = {
      val discounted =
        if (explicit) col(c).cast("double") - d
        else greatest(coalesce(col(c), lit(0L)).cast("double") - d, lit(0.0))
      discounted / col(cdot) + bow * lower
    }
  }

  /** The KN model of one order as its levels (top first), the
    * continuation table `cont` (w_n, nb) and the one-row totals `tot`
    * (every level's n1/n2, the top's token total `ntok`, the bottom's
    * type total `b`). */
  private final case class Model(levels: Seq[Level], cont: DataFrame,
                                 tot: DataFrame) {
    val n: Int = levels.size + 1
    def top: Level = levels.head
    private val last = s"w$n"

    val pcont: Column = col("nb").cast("double") / col("b")

    /** `df` with column `name` = P at level `from` and below: each level
      * interpolates with the one beneath it, an unseen history falls
      * through to the lower level, and a w_n never seen as a
      * continuation leaves NULL (OOV). One level per projection, so each
      * level is computed once per row instead of once per reference. */
    def withProb(df: DataFrame, from: Int, name: String): DataFrame =
      levels.drop(from).foldRight(df.withColumn(name, pcont)) { (lv, acc) =>
        val lower = col(name)
        acc.withColumn(name,
          when(col(lv.cdot).isNotNull && lower.isNotNull, lv.interp(lower)).otherwise(lower))
      }

    /** [[withProb]] for a row that every level from `from` down has seen
      * (an explicit entry): the same values without the fall-through arms. */
    def seen(from: Int): Column =
      levels.drop(from).foldRight(pcont)((lv, lower) => lv.interp(lower, explicit = true))

    /** `base` joined with every level's types and history from `from`
      * down, the continuation table and the broadcast totals row. */
    def below(base: DataFrame, from: Int, how: String): DataFrame =
      levels.drop(from).foldLeft(base)((df, lv) =>
        df.join(lv.types, lv.ws, how).join(lv.hist, lv.ws.init, how))
        .join(cont, Seq(last), how)
        .crossJoin(broadcast(tot))

    private def withHist(i: Int): DataFrame =
      levels(i).types.join(levels(i).hist, levels(i).ws.init)

    /** Stolcke's (1998) per-token loss of an explicit top entry:
      * (c/N) · (ln P_seen − ln(bow · P_lower)). Rounded to 9 decimals so
      * the threshold comparison is immune to cross-engine libm drift. */
    def loss: Column = {
      val lower = seen(1)
      round((col(top.c).cast("double") / col("ntok")) *
        (log(top.interp(lower, explicit = true)) - log(top.bow * lower)), 9)
    }

    /** The loss of every explicit top entry, over the fully joined model. */
    def lossTable: DataFrame = below(withHist(0), 1, "inner").withColumn("loss", loss)

    /** The entropy-pruned model as bounded frames, top first: entries
      * (ws, p), backoff (ws.init, gamma), then per lower level mid
      * (ws, p) and backoff (ws.init, bow), then cont (w_n, pcont). The
      * frames are lazy over the model's persisted tables and `kept`. */
    def prunedFrames[T](eps: Double)(use: Seq[DataFrame] => T): T = {
      val kept = lossTable.filter(col("loss") >= eps).persist()
      try {
        val entries = kept.select(cols(top.ws) :+ seen(0).as("p"): _*)
        val backoff = levels.tail
          .foldLeft(top.hist.join(keptTotals(kept), top.ws.init, "left"))((df, lv) =>
            df.join(lv.hist, lv.ws.init))
          .crossJoin(broadcast(tot))
          .select(cols(top.ws.init) :+ gamma.as("gamma"): _*)
        val lower = levels.indices.tail.flatMap { i =>
          val lv = levels(i)
          Seq(below(withHist(i), i + 1, "inner")
              .select(cols(lv.ws) :+ seen(i).as("p"): _*),
            lv.hist.crossJoin(broadcast(tot))
              .select(cols(lv.ws.init) :+ lv.bow.as("bow"): _*))
        }
        val contP = cont.crossJoin(broadcast(tot)).select(col(last), pcont.as("pcont"))
        use(Seq(entries, backoff) ++ lower :+ contP)
      } finally { kept.unpersist(false); () }
    }

    /** Per-document grams scored (n, lp) under the pruned model: a kept
      * entry scores P_seen, a pruned or unseen w_n under a seen history
      * γ·P_lower, an unseen history P_lower. The kept decision is the
      * loss re-evaluated inline over the joined integer columns — the
      * same expression, so the same decision — and `kept` itself only
      * feeds the history-sized γ aggregate (no grams ⋈ kept join). */
    def prunedScored(grams: DataFrame, eps: Double): DataFrame = {
      val histG = top.hist.join(
        keptTotals(lossTable.filter(col("loss") >= eps)), top.ws.init, "left")
      val lower = col("__lower")
      withProb(below(grams.join(top.types, top.ws, "left")
          .join(histG, top.ws.init, "left"), 1, "left"), 1, "__lower")
        .withColumn("p", when(loss >= eps, top.interp(lower, explicit = true))
          .when(col(top.cdot).isNotNull && lower.isNotNull, gamma * lower)
          .otherwise(lower))
        .withColumn("lp", col("n") * log(col("p")))
    }

    /** Per-history integer aggregates over the kept entries: k entries,
      * Σ c per level and Σ nb — γ derives from these in one expression. */
    private def keptTotals(kept: DataFrame): DataFrame =
      kept.groupBy(cols(top.ws.init): _*).agg(count(lit(1)).as("k"),
        levels.map(lv => sum(lv.c).as(lv.s)) :+ sum("nb").as("snb"): _*)

    /** The back-off weight of a top history renormalized over its kept
      * entries: γ = (1 − Σ_kept P) / (1 − Σ_kept P_lower). Each Σ telescopes
      * to the integer aggregates of [[keptTotals]] — every level below the top
      * shares the history's denominators — so no floating-point
      * accumulation order exists anywhere. */
    private def gamma: Column = {
      def kept(lv: Level, lower: Column): (Column, Column) =
        ((col(lv.s).cast("double") - col("k") * lv.d) / col(lv.cdot), lv.bow * lower)
      val sumLower = levels.tail.foldRight(col("snb").cast("double") / col("b")) {
        (lv, lower) => val (a, b) = kept(lv, lower); a + b }
      val (a, b) = kept(top, sumLower)
      // order 2 subtracts the two terms one at a time, as the oracle does
      val num = if (n == 2) lit(1.0) - a - b else lit(1.0) - (a + b)
      val den = lit(1.0) - sumLower
      // den = 0 ⟺ the kept set covers the whole continuation vocabulary
      // of the history — γ is unreachable there; pin 1.0, never NaN
      when(col("k").isNull, lit(1.0)).when(den <= 0.0, lit(1.0)).otherwise(num / den)
    }
  }

  /** Derive the KN model from an aggregated (w1..wn, n) frame (a per-doc
    * frame works too: the counts are summed per n-gram) and hand it to
    * `f` while its type tables are persisted.
    *
    * The whole model is a pure function of the n-gram count multiset:
    * the top type table sums the counts, each lower level's continuation
    * count ĉ(w_{i..n}) = N1+(·, w_{i..n}) is COUNT(*) over the type table
    * one level up (Chen & Goodman 1999 §3 — marginalizing the TYPE table,
    * not raw counts, keeps every level a type count), and every history
    * total, continuation count and count-of-counts row is an aggregate
    * of those tables. */
  private def withModel[T](counts: DataFrame)(f: Model => T): T = {
    val n = orderOf(counts)
    require(GramsCol.contains(n), s"Kneser-Ney order must be 2–4, got $n")
    val levels = (n to 2 by -1).foldLeft(Vector.empty[Level]) { (acc, k) =>
      val ws = words(n).takeRight(k)
      val c = s"c${indices(ws)}"
      val types = acc.lastOption match {
        case None => counts.groupBy(cols(ws): _*).agg(sum("n").as(c))
        case Some(up) => up.types.groupBy(cols(ws): _*).agg(count(lit(1)).as(c))
      }
      acc :+ Level(ws, types.persist())
    }
    try {
      val cont = levels.last.types.groupBy(s"w$n").agg(count(lit(1)).as("nb"))
      val tot = levels.map { lv =>
        val aggs = lv.countOfCounts ++
          (if (lv eq levels.head) Seq(sum(lv.c).as("ntok")) else Nil) ++
          (if (lv eq levels.last) Seq(count(lit(1)).as("b")) else Nil)
        lv.types.agg(aggs.head, aggs.tail: _*)
      }.reduce(_ crossJoin _)
        // one row every model frame joins: computed once, not per frame
        .localCheckpoint(true)
      f(Model(levels, cont, tot))
    } finally levels.foreach(_.types.unpersist(false))
  }

  /** Per-document (doc_id, n_<grams>, n_oov, avg_lp) from scored grams
    * (n, lp): avg_lp over the SCORED grams rounded to `scale` decimals,
    * 0.0 when everything was OOV. O(docs) rows: eager-materialized. */
  private def perDoc(scored: DataFrame, n: Int, scale: Int): DataFrame =
    scored.groupBy("doc_id")
      .agg(sum("n").as(GramsCol(n)),
        coalesce(sum(when(col("lp").isNull, col("n"))), lit(0L)).as("n_oov"),
        coalesce(round(sum("lp") / sum(when(col("lp").isNotNull, col("n"))), scale),
          lit(0.0)).as("avg_lp"))
      .localCheckpoint(true)

  /** Run `f` over the persisted per-doc n-grams of `docs`. A training
    * frame that reads the same data (self-scoring) builds the same plan,
    * so its `docNgrams` is served from this cache: the corpus explodes
    * once. */
  private def withDocGrams[T](docs: DataFrame, n: Int, idCol: String,
                              textCol: String)(f: DataFrame => T): T = {
    val grams = docNgrams(docs, n, idCol, textCol).persist()
    try f(grams) finally { grams.unpersist(false); () }
  }

  private def knScore(grams: DataFrame, counts: DataFrame, scale: Int): DataFrame =
    withModel(counts) { m =>
      perDoc(m.withProb(m.below(grams, 0, "left"), 0, "__p")
        .withColumn("lp", col("n") * log(col("__p"))), m.n, scale)
    }

  /** Average n-gram log-likelihood per document under an INTERPOLATED
    * KNESER-NEY LM of `order` 2–4 (Kneser & Ney 1995; the Chen & Goodman
    * 1999 interpolated form — the smoothing KenLM, and therefore the
    * CCNet reference pipeline, uses) trained on `train`:
    *
    *   P(w_n|h)  = max(c(h,w_n) − D, 0)/c(h·) + (D·N1+(h,·)/c(h·))·P̂(w_n|h')
    *   P̂ below the top: the same step over continuation counts
    *              ĉ = N1+(·, …), recursing to
    *   P_cont(w_n) = N1+(·,w_n) / N1+(··)
    *   D = n1 / (n1 + 2·n2) per level   (count-of-counts estimate)
    *
    * with h' = h minus its first word. The continuation distribution is
    * the whole point: a word that appears often but only after ONE
    * history ("Francisco") gets a LOW back-off weight — Laplace cannot
    * express this. Every model quantity is an integer count or a ratio
    * of integers, so an independent engine replays the model exactly.
    * Every level telescopes to Σ P = 1 over the continuation vocabulary.
    *
    * Degenerate-discount guard (ADVICE r13): the count-of-counts
    * estimate gives D = 0 whenever n1 = 0 with n2 > 0, and a zero
    * discount leaves NO reserved mass — an unseen n-gram with a seen
    * history would score P = 0 and silently fall into the OOV tally. So
    * D floors at 0.5 whenever n1 = 0, in the engine AND every oracle
    * replay.
    *
    * Back-off/OOV rule (pinned by spec): an unseen history falls through
    * to the next lower level, down to P_cont(w_n); a w_n never seen as a
    * continuation is OOV — excluded from the average and counted in
    * `n_oov`. Self-scoring (train = docs, the filter convention) never
    * hits either arm.
    *
    * Scale shape: the corpus explodes once (persisted, and shared with
    * the training side when it reads the same data), model frames are n-gram-vocabulary-sized aggregations
    * with map-side partials, the count-of-counts row broadcasts, scoring
    * is count-frame equi-joins back onto the per-doc gram frame.
    *
    * Output: (doc_id, n_bigrams|n_trigrams|n_quadgrams, n_oov, avg_lp). */
  def knLogLik(docs: DataFrame, train: DataFrame, order: Int,
               idCol: String = "doc_id", textCol: String = "text",
               scale: Int = 4): DataFrame =
    withDocGrams(docs, order, idCol, textCol)(
      knScore(_, docNgrams(train, order, idCol, textCol), scale))

  /** [[knLogLik]] from an ALREADY-AGGREGATED (w1..wn, n) count frame —
    * the seam a maintained store reads through; the order is the
    * frame's. The whole model is a pure function of the count multiset,
    * which is ADDITIVE, so identical maintained counts force
    * bit-identical scores (q202/q204/q215 gate it against the one-shot
    * oracles). */
  def knLogLikFromCounts(docs: DataFrame, counts: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         scale: Int = 4): DataFrame =
    withDocGrams(docs, orderOf(counts), idCol, textCol)(knScore(_, counts, scale))

  /** The explicit-entry loss table of an entropy-pruned KN model
    * (Stolcke 1998's criterion in its weighted-log-likelihood form — the
    * step SRILM's `-prune` and KenLM's `filter` perform before shipping
    * a model): one row per top-order TYPE of the [[knLogLik]] model over
    * `train`, with
    *
    *   loss = (c / N) · (ln P_seen − ln(bow(h) · P̂(w_n|h')))
    *
    * — the PER-TOKEN log-likelihood the corpus loses when the entry is
    * dropped and its occurrences score through the back-off arm instead
    * (N = training tokens at the top order; normalizing makes `eps` a
    * corpus-size-free threshold). Always ≥ 0. `kept` = loss ≥ eps.
    *
    * Output: (w1..wn, c1…n, nb, loss, kept). */
  def knPruneEntries(train: DataFrame, order: Int, eps: Double,
                     textCol: String = "text"): DataFrame =
    withModel(corpusNgrams(train, order, textCol)) { m =>
      m.lossTable
        .select(cols(m.top.ws :+ m.top.c :+ "nb" :+ "loss") :+
          (col("loss") >= eps).as("kept"): _*)
        .localCheckpoint(true)
    }

  /** Per-document scoring under the ENTROPY-PRUNED interpolated-KN model
    * of `order` — [[knLogLik]]'s deployment-shaped complement: the full
    * model trains as usual, every explicit top entry whose removal costs
    * < `eps` ([[knPruneEntries]]) is DROPPED, and each top history's
    * back-off weight renormalizes over the surviving entries so the
    * pruned model still sums to exactly 1:
    *
    *   γ(h) = (1 − Σ_kept P(·|h)) / (1 − Σ_kept P̂(·|h'))
    *
    * With nothing pruned γ = bow and scores equal [[knLogLik]] verbatim;
    * with nothing kept γ = 1 and the history scores the lower level.
    *
    * Scoring rule: kept entry → P_seen; pruned or unseen w_n under a seen
    * history → γ·P̂; unseen history → P̂ directly; deeper fall-throughs
    * and OOV as [[knLogLik]]. Self-scoring exercises the γ arm on every
    * pruned entry, which puts the renormalization under the hash gate.
    *
    * Scoring through the pruned model frames instead gives the same
    * values (the [[withKnPrunedModelFrames]] fidelity contract) but is
    * slower — the trigram queries q207/q208 by about a third at sf0.1 —
    * because the frames re-join the lower levels this scorer joins once.
    *
    * Output: the [[knLogLik]] shape. */
  def knPrunedLogLik(docs: DataFrame, train: DataFrame, order: Int,
                     eps: Double, idCol: String = "doc_id",
                     textCol: String = "text", scale: Int = 4): DataFrame =
    withDocGrams(docs, order, idCol, textCol)(
      knPrunedScore(_, docNgrams(train, order, idCol, textCol), eps, scale))

  /** [[knPrunedLogLik]] from an aggregated (w1..wn, n) count frame — the
    * maintained-store seam: the pruned model is a pure function of the
    * additive count multiset exactly like the full model (q206/q208/q217
    * gate it against the one-shot pruned oracles). */
  def knPrunedLogLikFromCounts(docs: DataFrame, counts: DataFrame,
                               eps: Double, idCol: String = "doc_id",
                               textCol: String = "text",
                               scale: Int = 4): DataFrame =
    withDocGrams(docs, orderOf(counts), idCol, textCol)(
      knPrunedScore(_, counts, eps, scale))

  private def knPrunedScore(grams: DataFrame, counts: DataFrame, eps: Double,
                            scale: Int): DataFrame =
    withModel(counts)(m => perDoc(m.prunedScored(grams, eps), m.n, scale))

  /** The entropy-pruned KN model of the count frame's order as 2n − 1
    * BOUNDED frames — the serving artifact ([[KnModel]] writes/loads
    * them; the columnar equivalent of a pruned ARPA file's sections):
    *
    *  - entries (w1..wn, p): the kept explicit probabilities;
    *  - backoff (w1..w(n−1), gamma): the renormalized back-off weight of
    *    EVERY seen top history (γ = 1 where nothing was kept);
    *  - per lower level, top-down: mid (ws, p), the continuation model
    *    P̂ for every seen continuation n-gram, and backoff (ws.init, bow),
    *    its back-off weight D·N1+(h,·)/ĉ(h·);
    *  - cont (w_n, pcont): the continuation distribution.
    *
    * Fidelity contract: every stored double is computed by the SAME
    * column expressions the scorer evaluates over the same integer
    * frames, and every unseen arm reduces bit-exactly to bow·lower
    * (greatest(0 − D, 0) = +0.0 and +0.0 + x = x in IEEE), so scoring
    * the loaded artifact ([[knScoreFromModel]]) equals [[knPrunedLogLik]]
    * bit-for-bit — q209/q210/q218 drive export → load → score against
    * the raw-text DuckDB oracles.
    *
    * The frames are derived LAZILY and handed to `use` while the caches
    * underneath are alive — [[KnModel.exportFromCounts]] writes them
    * straight to parquet (the write IS the materialization). */
  private[graft] def withKnPrunedModelFrames[T](counts: DataFrame, eps: Double)(
      use: Seq[DataFrame] => T): T =
    withModel(counts)(_.prunedFrames(eps)(use))

  /** Score documents against pruned-model frames in the
    * [[withKnPrunedModelFrames]] layout (e.g. a LOADED artifact) — no raw
    * counts, no model derivation, 2n − 1 equi-joins against the bounded
    * frames. Arms, bottom up: P_1 = pcont, NULL = OOV; at each level a
    * stored p wins, else a stored back-off weight scales the level
    * below, else the level below stands. */
  def knScoreFromModel(docs: DataFrame, frames: Seq[DataFrame],
                       idCol: String = "doc_id", textCol: String = "text",
                       scale: Int = 4): DataFrame = {
    val n = (frames.size + 1) / 2
    val levels = frames.init.grouped(2).toSeq.zipWithIndex
    withDocGrams(docs, n, idCol, textCol) { grams =>
      val joined = levels.foldLeft(grams) { case (df, (Seq(p, w), i)) =>
        val ws = words(n).drop(i)
        df.join(p.select(cols(ws) :+ col("p").as(s"__p$i"): _*), ws, "left")
          .join(w.select(cols(ws.init) :+ col(w.columns.last).as(s"__w$i"): _*),
            ws.init, "left")
      }.join(frames.last, Seq(s"w$n"), "left")
      // one level per projection, bottom up: each level is computed once
      // per row instead of once per reference
      val lower = col("__q")
      val scored = levels.foldRight(joined.withColumn("__q", col("pcont"))) {
        case ((_, i), df) =>
          df.withColumn("__q", when(col(s"__p$i").isNotNull, col(s"__p$i"))
            .when(col(s"__w$i").isNotNull && lower.isNotNull, col(s"__w$i") * lower)
            .otherwise(lower))
      }
      perDoc(scored.withColumn("lp", col("n") * log(lower)), n, scale)
    }
  }

  /** CCNet-style perplexity filter: score every document with
    * [[bigramLogLik]] against the corpus-trained LM and flag the ones
    * at or above the `keepQuantile` exact percentile of avg_lp (higher
    * log-likelihood = more fluent under the model). The threshold is
    * one exact interpolated percentile over the O(docs) scored frame,
    * broadcast back — identical to q61's quantile-gate contract. */
  def perplexityFilter(docs: DataFrame, keepQuantile: Double,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val scored = bigramLogLik(docs, docs, idCol, textCol)
    val thr = scored.agg(
      expr(s"percentile(avg_lp, ${keepQuantile})").as("thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_bigrams"), col("avg_lp"),
        (col("avg_lp") >= col("thr")).as("kept"))
  }

  /** DSIR importance weight per raw document:
    *
    *   w(d) = Σ_tok n_tok(d) · ln(p_target(tok) / p_raw(tok))
    *
    * with both unigram LMs Laplace-smoothed over the UNION vocabulary,
    * p(tok) = (c(tok) + 1) / (total + V). `target` is the
    * distribution to steer toward (e.g. one language or source slice);
    * weights are comparable across documents of similar length (the
    * paper resamples proportionally to exp(w); the deterministic
    * engine surface exposes the ranked weights and leaves the
    * categorical draw to the caller's sampler, [[Sharding]]-style).
    *
    * Output: (doc_id, n_tokens, log_w) rounded to `scale`. */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  scale: Int = 4): DataFrame = {
    def unigrams(d: DataFrame) =
      d.select(col(idCol).as("doc_id"),
          explode(split(col(textCol), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    // rawU (token explode + shuffle) feeds both the raw model counts and
    // the scoring join; model feeds both totals and the join. Persist
    // each so every explode/shuffle runs once (same reasoning as
    // [[bigramLogLik]]).
    val rawU = unigrams(raw).persist()
    var model: DataFrame = null
    try {
    val cRaw = rawU.groupBy("w").agg(sum("n").as("c_raw"))
    val cTgt = unigrams(target).groupBy("w").agg(sum("n").as("c_tgt"))
    // union vocabulary + totals: one tiny frame each, broadcast
    model = cRaw.join(cTgt, Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("c_raw"), lit(0L)).as("c_raw"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
      .persist()
    val totals = model.agg(sum("c_raw").as("t_raw"), sum("c_tgt").as("t_tgt"),
      count(lit(1)).as("v"))
    rawU
      .join(model, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lr",
        log((coalesce(col("c_tgt"), lit(0L)) + lit(1.0)) / (col("t_tgt") + col("v"))) -
        log((coalesce(col("c_raw"), lit(0L)) + lit(1.0)) / (col("t_raw") + col("v"))))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"), round(sum(col("n") * col("lr")), scale).as("log_w"))
      .localCheckpoint(true)
    } finally {
      // unpersist even when the compute throws (see [[bigramLogLik]])
      rawU.unpersist(false)
      if (model != null) model.unpersist(false): Unit
    }
  }
}
