package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pruned-KN SERVING artifact: the entropy-pruned interpolated-KN
  * model of order 2–4 ([[NgramLM.knPrunedLogLik]]) exported as 2n − 1
  * bounded parquet tables and scored back WITHOUT raw counts or model
  * re-derivation — what a production deployment actually ships (KenLM
  * writes an ARPA/binary file; the columnar equivalent here is
  * vocabulary-sized frames a cluster can broadcast or hash-join). The
  * tables, in [[NgramLM.withKnPrunedModelFrames]] order, per order:
  *
  *   2: _kn_entries (w1, w2, p), _kn_backoff (w1, gamma), _kn_cont (w2, pcont)
  *   3: _kn3_entries, _kn3_backoff12, _kn3_mid (w2, w3, p),
  *      _kn3_backoff2 (w2, bow), _kn3_cont
  *   4: _kn4_entries, _kn4_backoff123, _kn4_mid3, _kn4_backoff23,
  *      _kn4_mid2, _kn4_backoff2, _kn4_cont
  *
  * Fidelity contract: the stored doubles ARE the in-memory scorer's
  * values and parquet round-trips IEEE doubles bit-for-bit, so [[score]]
  * equals [[NgramLM.knPrunedLogLik]] EXACTLY — q209/q210/q218 drive the
  * full export → load → score loop against the DuckDB oracles, which
  * re-derive everything from raw text. */
object KnModel {

  /** The artifact's table names per order — the on-disk format. */
  val Tables: Map[Int, Seq[String]] = Map(
    2 -> Seq("_kn_entries", "_kn_backoff", "_kn_cont"),
    3 -> Seq("_kn3_entries", "_kn3_backoff12", "_kn3_mid", "_kn3_backoff2",
      "_kn3_cont"),
    4 -> Seq("_kn4_entries", "_kn4_backoff123", "_kn4_mid3", "_kn4_backoff23",
      "_kn4_mid2", "_kn4_backoff2", "_kn4_cont"))

  /** Derive the pruned model of `order` from `train` and write the
    * artifact. */
  def export(train: DataFrame, order: Int, eps: Double, dir: String,
             textCol: String = "text"): Unit =
    exportFromCounts(NgramLM.corpusNgrams(train, order, textCol), eps, dir)

  /** [[export]] from an aggregated (w1..wn, n) count frame — the
    * maintained-store composition ([[graft.streaming.NgramCountStream
    * .counts]] feeds it directly). The frames are written inside the
    * derivation's cache scope (the write IS the materialization), all at
    * once from a small pool: they share the persisted type tables, whose
    * partitions are compute-once across the concurrent jobs, and the
    * first failure rethrows after every write settles. */
  def exportFromCounts(counts: DataFrame, eps: Double, dir: String): Unit =
    NgramLM.withKnPrunedModelFrames(counts, eps) { frames =>
      graft.core.Par.all(frames.zip(Tables((frames.size + 1) / 2)).map {
        case (f, t) => () => f.write.mode("overwrite").parquet(s"$dir/$t")
      })
    }

  /** Load the model frames of an exported artifact. */
  def frames(spark: SparkSession, dir: String): Seq[DataFrame] =
    Tables(order(dir)).map(t => spark.read.parquet(s"$dir/$t"))

  /** Score documents against the loaded artifact — bit-identical to
    * [[NgramLM.knPrunedLogLik]] over the corpus the model was exported
    * from. Output: (doc_id, n_bigrams|n_trigrams|n_quadgrams, n_oov,
    * avg_lp). */
  def score(spark: SparkSession, dir: String, docs: DataFrame,
            idCol: String = "doc_id", textCol: String = "text",
            scale: Int = 4): DataFrame =
    NgramLM.knScoreFromModel(docs, frames(spark, dir), idCol, textCol, scale)

  /** Artifact row counts, table by table — the bounded-size evidence a
    * deployment checks before shipping. */
  def sizes(spark: SparkSession, dir: String): Seq[Long] =
    frames(spark, dir).map(_.count())

  /** The n-gram order of a model artifact dir (by which entries table
    * exists) — lets a caller holding only a model path (e.g.
    * [[graft.tools.CuratePipeline]]'s `knModelDir`) score without a
    * format flag.
    *
    * Existence resolves through the Hadoop FileSystem for the path —
    * the same API every other artifact access uses (ADVICE r15: a
    * `java.io.File` probe is local-paths-only). A dir carrying NO
    * entries table is a bad model path: throw a typed error naming the
    * dir instead of guessing. */
  def order(dir: String): Int = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    def exists(table: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir, table)
      p.getFileSystem(conf).exists(p)
    }
    Seq(4, 3, 2).find(n => exists(Tables(n).head)).getOrElse(
      throw new IllegalArgumentException(
        s"no KN model artifact at '$dir': none of " +
          Seq(4, 3, 2).map(Tables(_).head).mkString("/") +
          " exists — expected a dir written by KnModel.export"))
  }

  /** [[score]] with the gram-count column normalized to `n_grams`:
    * (doc_id, n_grams, n_oov, avg_lp), so callers are order-agnostic. */
  def scoreAny(spark: SparkSession, dir: String, docs: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               scale: Int = 4): DataFrame = {
    val scored = score(spark, dir, docs, idCol, textCol, scale)
    scored.withColumnRenamed(scored.columns(1), "n_grams")
  }
}
