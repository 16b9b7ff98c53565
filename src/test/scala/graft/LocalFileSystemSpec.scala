package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.GraftLocalFileSystem

/** `file:` under a graft session is [[GraftLocalFileSystem]]: the write
  * paths set permissions without forking `chmod`, and every file and
  * directory ends with the mode Hadoop's own `chmod` gave it. Process
  * starts are counted with an in-process JFR recording
  * (`jdk.ProcessStart`). */
class LocalFileSystemSpec extends SparkTestBase {
  import spark.implicits._

  private def fs = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())

  /** The command lines of the processes `body` started. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.setToDisk(true) // an in-memory recording drops its oldest events when full
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def assertNoChmod(starts: Seq[String]): Unit = {
    val chmods = starts.filter(_.startsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod starts of ${starts.size} process starts, " +
      s"first: ${chmods.take(3).mkString("; ")}")
  }

  private def mode(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** One SQL lifecycle on a partitioned manifest table (every statement
    * writes: parquet parts, `.crc`s, manifests, DV artifacts), with the
    * process starts it caused. */
  private lazy val cycle: (NioPath, Seq[String]) = {
    val root = Files.createTempDirectory("graft_localfs").resolve("t")
    val t = "graft_fs.cycle"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_fs")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a")).toDF("k", "v", "g")
      .createOrReplaceTempView("fs_src")
    val starts = processStarts {
      spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, g STRING) USING graft " +
        s"PARTITIONED BY (g) LOCATION '$root'").collect()
      spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 2, 'b'), (4, 4, 'b'), (5, 5, 'a')").collect()
      spark.sql(s"DELETE FROM $t WHERE k = 5").collect()
      spark.sql(s"UPDATE $t SET v = v + 100 WHERE k = 4").collect()
      spark.sql(s"MERGE INTO $t t USING fs_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
      spark.sql(s"OPTIMIZE $t").collect()
      spark.sql(s"CHECKPOINT $t").collect()
    }
    assert(spark.table(t).select("k", "v").as[(Long, Long)].collect().toSet ==
      Set(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 104L))
    (root, starts)
  }

  test("file: under a graft session is GraftLocalFileSystem") {
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[GraftLocalFileSystem])
  }

  test("a SQL cycle on a partitioned graft table (CREATE, INSERT, DELETE, " +
    "UPDATE, MERGE, OPTIMIZE, CHECKPOINT) forks no chmod") {
    assertNoChmod(cycle._2)
  }

  test("the cycle's parquet parts, .crc files, manifests and DV artifacts " +
    "get 0644, their directories 0755 (Hadoop's umask 022)") {
    assert(FsPermission.getUMask(spark.sparkContext.hadoopConfiguration) == new FsPermission("022"))
    val (root, _) = cycle
    val all = Files.walk(root).iterator().asScala.toSeq
    val (dirs, files) = all.partition(Files.isDirectory(_))
    val names = files.map(_.getFileName.toString)
    assert(names.exists(_.endsWith(".parquet")) && names.exists(_.endsWith(".crc")))
    assert(files.exists(_.toString.contains("/_graft_manifest/")))
    assert(all.exists(_.toString.contains("/_graft_dv/")), "the DELETE wrote a DV")
    val wrong = files.filter(mode(_) != "rw-r--r--") ++ dirs.filter(mode(_) != "rwxr-xr-x")
    assert(wrong.isEmpty, wrong.map(p => s"${mode(p)} $p").mkString("\n"))
  }

  test("every mode 0-0777 round-trips through setPermission without a fork; " +
    "a symlink's target takes the mode") {
    val parent = Files.createTempDirectory("graft_modes")
    val f = Files.createFile(parent.resolve("f"))
    val dir = Files.createDirectory(parent.resolve("d"))
    val link = Files.createSymbolicLink(parent.resolve("l"), f)
    val starts = processStarts {
      (0 to 0x1ff).foreach { m =>
        val perm = new FsPermission(m.toShort)
        fs.setPermission(new Path(f.toUri), perm)
        assert(mode(f) == perm.toString, f"mode 0$m%o")
        fs.setPermission(new Path(dir.toUri), perm)
        assert(mode(dir) == perm.toString, f"directory mode 0$m%o")
      }
      fs.setPermission(new Path(link.toUri), new FsPermission("700"))
      assert(mode(f) == "rwx------")
    }
    assertNoChmod(starts)
  }

  test("a sticky mode (01777) still applies; a missing path throws IOException") {
    val dir = Files.createTempDirectory("graft_sticky")
    fs.setPermission(new Path(dir.toUri), new FsPermission("1777"))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1777", 8))
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[IOException](fs.setPermission(missing, new FsPermission("644")))
  }
}
