package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** SELF-SNAPSHOT regression pin for the GA daily job on `fixtures/ga`:
  * the six output tables (sessions, pageviews, events, products,
  * transactions, items — the q16/q17/q45-q48 projections) are compared
  * cell by cell with the sorted golden files under
  * `fixtures/ga/golden/`. The files were rendered from graft itself
  * while its outputs matched the reference PySpark pipeline on this
  * fixture 6/6 (`scripts/compare_reference.py`); they are NOT a
  * reference check — they pin graft against its own past output, so a
  * change that moves any GA cell fails here loudly.
  *
  * On a mismatch the fresh rendering is written to
  * `target/ga_golden_actual/<table>.tsv` for diffing; copy it over the
  * golden file only after the change that moved it has been verified
  * against an independent source. */
class GaGoldenSpec extends SparkTestBase {

  private val tables = Seq("q16_ga_sessions", "q17_ga_pageviews",
    "q45_ga_hits_events", "q46_ga_hits_products",
    "q47_ga_hits_transactions", "q48_ga_hits_items")

  /** Header line, then one line per row sorted: tab-separated cells,
    * NULL as `\N`, backslash/tab/CR/LF/\u0001 escaped. */
  private def render(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def cell(v: Any): String =
      if (v == null) "\\N"
      else v.toString.replace("\\", "\\\\").replace("\t", "\\t")
        .replace("\n", "\\n").replace("\r", "\\r")
        .replace("\u0001", "\\x01")
    df.columns.mkString("\t") +:
      df.collect().map(_.toSeq.map(cell).mkString("\t")).sorted.toSeq
  }

  tables.foreach { name =>
    test(s"$name matches its golden self-snapshot") {
      val got = render(SparkEntry.queries(name)(spark, sf))
      val golden = Paths.get(s"fixtures/ga/golden/$name.tsv")
      val want =
        if (Files.exists(golden))
          Files.readAllLines(golden, StandardCharsets.UTF_8).asScala.toSeq
        else Nil
      if (got != want) {
        val dir = Paths.get("target/ga_golden_actual")
        Files.createDirectories(dir)
        Files.write(dir.resolve(s"$name.tsv"),
          got.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
      assert(want.nonEmpty, s"missing golden file $golden")
      assert(got.head == want.head, s"$name: column header changed")
      val (extra, missing) = (got.toSet -- want, want.toSet -- got)
      assert(got.size == want.size && extra.isEmpty && missing.isEmpty,
        s"$name: ${got.size - 1} rows vs golden ${want.size - 1}; " +
          s"first unexpected: ${extra.headOption}; first missing: " +
          s"${missing.headOption}")
    }
  }
}
