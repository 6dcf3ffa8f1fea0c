package graft.tools

import graft.core.GraftSession

/** Fold-only benchmark entry point, meant to run in its OWN fresh JVM.
  *
  * The ingest+fold number is latency-bound (per-trigger commit path),
  * which makes it acutely sensitive to JVM state: measured in a hot
  * session after a 160-query sweep it reads 2–4× worse than the same
  * code in a fresh serial JVM (heap churn, lingering listener/shuffle
  * state — BASELINE.md §2/§4). [[graft.Bench]] therefore forks this
  * main as a subprocess so the committed artifact always carries the
  * fresh-JVM figure, and only falls back to an in-process run (stamped
  * `indicative`) if the fork itself fails.
  *
  * Prints exactly one JSON line on stdout:
  * {"metric":"cdc_ingest_fold_throughput","value":…,"records":…,"secs":…}
  */
object IngestFoldMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val replicate = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_INGEST_REPLICATE", "4")).toInt
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    val r = IngestBench.streamWithFolds(spark, sfDir, replicate)
    // mid-fold sentinel distribution + per-phase wall split (r16;
    // VERDICT r15 missing #2) — the attribution evidence rides the
    // fork's own JSON line so Bench can surface it per fork
    def pct(xs: Seq[Double], q: Double): Double =
      if (xs.isEmpty) -1.0
      else xs.sorted.apply(math.min(xs.size - 1, (xs.size * q).toInt))
    val conc = f""","conc_probes":${r.concCpuMs.size},"conc_cpu_p50_ms":${pct(r.concCpuMs, 0.5)}%.1f,"conc_cpu_p95_ms":${pct(r.concCpuMs, 0.95)}%.1f,"conc_io_p50_ms":${pct(r.concIoMs, 0.5)}%.1f,"conc_io_p95_ms":${pct(r.concIoMs, 0.95)}%.1f"""
    val phases =
      if (r.phaseMs.isEmpty) ""
      else r.phaseMs.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(""","phase_ms":{""", ",", "}")
    println(f"""{"metric":"cdc_ingest_fold_throughput","value":${r.recordsPerSec}%.0f,"unit":"records_per_sec","records":${r.records},"secs":${r.secs}%.2f,"micro_batches":${r.microBatches},"p95_batch_ms":${r.p95BatchMs}$conc$phases,"sf":"$sfDir"}""")
    spark.stop()
  }
}
