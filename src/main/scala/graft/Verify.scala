package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", Some(cpus.toInt)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name filter for local iteration on a few
    // queries (the driver never sets it — full suite + full manifest).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty, // a typo must not yield a vacuous green run
          s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries may persist intermediates (e.g. q20's hash sets); drop them
      // so later queries neither inherit memory pressure nor have
      // CacheManager substitute InMemoryRelation into equal subtrees.
      spark.catalog.clearCache()
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
    // Partial runs also FILTER the oracle manifest to the selected
    // names — compare_oracle.py drives from oracle_sql.json, so a full
    // manifest next to a partial dump would fail every undumped query
    // instead of checking just the iterated ones. The driver's full run
    // (no SPARK_GRAFT_ONLY) always writes the complete manifest.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full query inventory, so the compare drives from what SHOULD exist
    // rather than from output dirs that happen to exist — a query that
    // crashed before writing anything fails its row instead of vanishing.
    // A SPARK_GRAFT_ONLY run writes its reduced inventory to a DISTINCT
    // filename (and removes any stale full manifest) so a later compare
    // over the directory can never mistake a partial run for a verified
    // full round.
    val manifest = selected.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    if (only.isDefined) {
      Files.deleteIfExists(Paths.get(s"$outDir/queries.json"))
      Files.writeString(Paths.get(s"$outDir/queries_partial.json"), manifest)
      System.err.println(
        s"[verify] PARTIAL run (${selected.size}/${SparkEntry.queries.size} " +
          "queries) — manifest written to queries_partial.json only")
    } else {
      // symmetric cleanup: a FULL run must not leave a stale partial
      // manifest from an earlier SPARK_GRAFT_ONLY iteration next to the
      // full one — a directory-driven compare could misread it.
      Files.deleteIfExists(Paths.get(s"$outDir/queries_partial.json"))
      Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    }
    spark.stop()
  }
}
