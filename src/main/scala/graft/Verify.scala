package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.GraftSession.create()
    // µs, not INT96: pyarrow reads INT96 as ns, breaking typed compares
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q69,q70 dumps just those queries
    // (and any aux dumps they need). Unset = everything (the driver path).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean =
      only.forall(names => names.exists(name.startsWith))
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-query dump status for parity_status.json (VERDICT r13 #5: the
    // round-13 driver correctness artifact arrived EMPTY while the tree
    // was fine — the repo now keeps its own ground truth of what Verify
    // dumped, so a driver-side artifact failure is diagnosable from the
    // tree alone). rows counts the WRITTEN parquet back (metadata-only
    // read), so the artifact reflects what a comparator will see, not
    // what the query promised. rows = -2 means the dump itself is GOOD
    // but the read-back count crashed (ADVICE r14: a post-write failure
    // must not clobber a written result with an error marker).
    val status =
      scala.collection.mutable.LinkedHashMap.empty[String, (Long, Boolean)]
    // per-query dump wall (VERDICT r14 #1: two consecutive driver
    // correctness artifacts arrived empty while the tree dumped
    // everything — the per-query wall makes a driver-side timeout
    // provable from the tree's own artifacts). Written even if a later
    // stage of this main crashes.
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // soft wall budget (seconds): when cumulative dump wall crosses it,
    // Verify LOGS loudly — never skips — so a driver whose comparator
    // has a wall limit leaves a matching trace in the repo artifact.
    val budget = sys.env.get("SPARK_GRAFT_VERIFY_BUDGET")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
    var budgetFlagged = false
    val verifyT0 = System.nanoTime()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val wrote = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        // A crashed query must NEVER be indistinguishable from an unrun
        // one: dump a one-row result whose `_graft_error` column can't
        // match any oracle schema, so the driver's compare records a
        // hard err entry for this name instead of silently omitting it.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = String.valueOf(e.getMessage)
        try {
          import spark.implicits._
          Seq(String.valueOf(e.getMessage)).toDF("_graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
        false
      }
      if (wrote) {
        // read-back in its own guard: the parquet on disk is the real
        // result — a count() crash here records rows = -2 in the status
        // artifact and leaves the dump untouched (ADVICE r14)
        try status(name) = (spark.read.parquet(s"$outDir/$name").count(),
          SparkEntry.oracleSql.contains(name))
        catch { case e: Throwable =>
          System.err.println(
            s"[verify] $name post-write count failed: ${e.getMessage}")
          status(name) = (-2L, SparkEntry.oracleSql.contains(name))
        }
      }
      timings(name) = (System.nanoTime() - t0) / 1e9
      val elapsed = (System.nanoTime() - verifyT0) / 1e9
      budget.foreach { b =>
        if (elapsed > b && !budgetFlagged) {
          budgetFlagged = true
          System.err.println(f"[verify] BUDGET EXCEEDED after $name: " +
            f"$elapsed%.1f s > $b%.1f s budget (continuing — logged only)")
        }
      }
    }
    // Candidate-set dumps for the re-rank oracles (q30/q33): written to
    // the fixed scratch dir the oracle SQL reads, NOT outDir — the
    // driver's comparator treats every outDir subdirectory as a query
    // result and these are oracle inputs, not results.
    SparkEntry.auxDumps.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"${graft.queries.Extended.OracleAuxDir}/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Human-readable failure summary alongside the parquet error markers.
    val errJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // The repo-side parity ground truth: one entry per attempted query —
    // rows actually written, whether an oracle exists, and the error
    // message for crashed queries. dev/check_parity.py cross-checks it;
    // an empty driver correctness artifact is now contradicted (or
    // confirmed) by the tree itself.
    val statusJson = (status.map { case (k, (rows, oracled)) =>
      s"${q(k)}: {${q("rows")}: $rows, ${q("oracle")}: $oracled}"
    } ++ failed.map { case (k, v) =>
      s"${q(k)}: {${q("rows")}: -1, ${q("oracle")}: " +
        s"${SparkEntry.oracleSql.contains(k)}, ${q("error")}: ${q(v)}}"
    }).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/parity_status.json"), statusJson)
    // Per-query dump wall + total (VERDICT r14 #1): if the driver's
    // comparator stage times out above ~200 queries, the repo-side wall
    // profile proves where the time went — and that Verify itself
    // finished. total_secs covers the dump loop only (not the aux/json
    // epilogue, which is sub-second).
    val totalSecs = timings.values.sum
    val timingsJson = s"""{${q("total_secs")}: ${f"$totalSecs%.2f"}, """ +
      s"""${q("budget_secs")}: ${budget.map(b => f"$b%.1f").getOrElse("null")}, """ +
      timings.map { case (k, v) => s"${q(k)}: ${f"$v%.2f"}" }
        .mkString(s"${q("queries")}: {", ",", "}}")
    Files.writeString(Paths.get(s"$outDir/verify_timings.json"), timingsJson)
    System.err.println(f"[verify] dump loop total: $totalSecs%.1f s " +
      f"over ${timings.size} queries (slowest: " +
      timings.toSeq.sortBy(-_._2).take(5)
        .map { case (k, v) => f"$k=$v%.1f" }.mkString(", ") + ")")
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    }
    spark.stop()
  }
}
