package graft

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sources.{CommitClaimer, Manifest}

/** Race injection through the [[Manifest.withClaimer]] seam: while
  * `body` runs, the FIRST version-slot claim on `trigger`'s log runs
  * `rival` before claiming. The rival therefore commits while the
  * writer under test sits between planning and publishing — the
  * interleaving a second concurrent run produces, pinned without
  * thread timing. The rival's own claims go through unarmed. */
object RivalCommit {
  def around[T](trigger: String)(rival: => Unit)(body: => T): T = {
    val log = new Path(new Path(trigger), Manifest.Dir).toUri.getPath
    var armed = true
    Manifest.withClaimer(new CommitClaimer {
      override def claim(fs: FileSystem, tmp: Path, target: Path): Boolean = {
        if (armed && target.getName.startsWith("manifest-") &&
            target.getParent.toUri.getPath == log) {
          armed = false
          rival
        }
        CommitClaimer.HardLink.claim(fs, tmp, target)
      }
    })(body)
  }
}
