package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.sources.ParquetSchema

object ProbeQ258 {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val s = GraftSession.builder(master = "local[32]",
      shufflePartitions = Some(32)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import graft.sources.{GraftTable, Manifest}
    def t[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[probe] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    (1 to 2).foreach { pass =>
      println(s"=== pass $pass")
      val root = java.nio.file.Files.createTempDirectory("q258probe").toString
      val facts = ParquetSchema.read(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          pmod(col("o_custkey"), lit(4)).cast("string").as("w"))
      t("seed write") {
        facts.write.mode("overwrite").partitionBy("w").parquet(root)
        Manifest.bootstrap(s, root)
      }
      val tag = "probe258"
      GraftTable.register(s, "graft_unified", s"sqloptprobe_$tag", root,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val name = s"graft_unified.sqloptprobe_$tag"
      facts.createOrReplaceTempView("probe_src")
      s.conf.set("spark.graft.manifest.checkpointInterval", "5")
      s.conf.set("spark.graft.manifest.logRetention", "8")
      (0 until 12).foreach { k =>
        t(s"insert $k") {
          s.sql(s"INSERT INTO $name SELECT * FROM probe_src " +
            s"WHERE pmod(o_orderkey, 997) = $k").collect(): Unit
        }
      }
      s.conf.unset("spark.graft.manifest.checkpointInterval")
      s.conf.unset("spark.graft.manifest.logRetention")
      t("OPTIMIZE") { s.sql(s"OPTIMIZE $name").collect(): Unit }
      t("final agg") {
        s.table(name).groupBy("w").agg(count(lit(1)), sum("price_cents"))
          .write.format("noop").mode("overwrite").save()
      }
      s.sql(s"DROP TABLE IF EXISTS $name")
    }
    s.stop()
  }
}
