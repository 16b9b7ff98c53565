package graft.sources

import org.apache.spark.sql.SparkSession

/** Versioned-directory + pointer-file publication — the reader-safe
  * alternative to in-place directory swaps, shared by
  * [[graft.jobs.DailyJob.mergeHistoryVersioned]] (history tables) and
  * [[graft.llm.VectorIndex]] (index artifacts):
  *
  *   <root>/_CURRENT       one-line pointer: the active version dir
  *   <root>/v=00000042/    immutable, complete trees
  *
  * A writer materializes a COMPLETE new version next to the old one
  * and then swaps only the POINTER (FileContext rename with OVERWRITE
  * — atomic on local/HDFS; on S3 the pointer is a single small object
  * whose put is atomic where directory renames are not). Readers that
  * resolve the pointer always see a complete tree, and a crash at any
  * point leaves a valid pointer. The superseded version survives one
  * generation for readers already scanning it; older ones are GC'd on
  * the next publish.
  */
object Versioned {

  /** The active version dir name (e.g. "v=00000042"), if published. */
  def current(spark: SparkSession, root: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    val ptr = new Path(root, "_CURRENT")
    val fs = ptr.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        // read to EOF: a single read() may legally return short (the
        // Hadoop stream contract), which would truncate the pointer
        val buf = new Array[Byte](64)
        var n = 0
        var r = in.read(buf, 0, buf.length)
        while (r > 0) { n += r; r = in.read(buf, n, buf.length - n) }
        Some(new String(buf, 0, n, "UTF-8").trim).filter(_.nonEmpty)
      } finally in.close()
    }
  }

  /** The version dir name a writer should materialize next. */
  def nextName(cur: Option[String]): String =
    f"v=${cur.map(_.stripPrefix("v=").toLong).getOrElse(-1L) + 1}%08d"

  /** Atomically point `_CURRENT` at `next` (which must be a complete
    * tree under `root`), then GC every version except `next` and the
    * superseded `prev`. */
  def publish(spark: SparkSession, root: String, next: String,
              prev: Option[String]): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val conf = spark.sessionState.newHadoopConf()
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(conf)
    val tmp = new Path(root, "_CURRENT__tmp")
    val out = fs.create(tmp, true)
    try out.write(next.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(rootP.toUri, conf)
      .rename(tmp, new Path(root, "_CURRENT"), Options.Rename.OVERWRITE)
    val keep = Set(next) ++ prev
    fs.listStatus(rootP).map(_.getPath)
      .filter(p => p.getName.startsWith("v=") && !keep(p.getName))
      .foreach(p => fs.delete(p, true))
  }

  /** The full keyed-MERGE lifecycle over a versioned table — resolve
    * current, load (or bootstrap from `batch.limit(0)`), upsert the
    * batch by `keys`, write the next version, publish. The one
    * implementation behind [[graft.jobs.DailyJob.mergeHistoryVersioned]]
    * and [[graft.jobs.Delivery]]'s upload-state ledger, so the
    * publish/GC/bootstrap handling can't drift between them.
    * `coalesce1` packs ledger-sized tables into one file. */
  def upsertPublish(spark: SparkSession, root: String,
                    batch: org.apache.spark.sql.DataFrame,
                    keys: Seq[String], coalesce1: Boolean = false): Unit = {
    val cur = current(spark, root)
    val existing = cur.map(v => ParquetSchema.read(spark, s"$root/$v"))
      .getOrElse(batch.limit(0))
    val merged = graft.operators.Upsert.upsert(existing, batch, keys)
    val next = nextName(cur)
    val out = if (coalesce1) merged.coalesce(1) else merged
    out.write.mode("overwrite").parquet(s"$root/$next")
    publish(spark, root, next, cur)
  }
}
