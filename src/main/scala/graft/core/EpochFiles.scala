package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The engine's commit points ([[TableLock]] leases, [[Generations]]
  * markers, [[TableManifest]] epochs): files `<prefix><N>`, each created
  * once if absent. Atomicity is decided here alone: NIO `CREATE_NEW`
  * locally (Hadoop's local `create(overwrite = false)` is exists-then-open),
  * that call elsewhere (arbitrated server-side), and a no-replace hard
  * link for written content (local only). A create returns false ONLY for
  * an existing target; other I/O errors propagate, naming it.
  */
private[graft] object EpochFiles {

  private val log = org.slf4j.LoggerFactory.getLogger(EpochFiles.getClass)

  private[core] def isLocal(fs: FileSystem): Boolean = "file".equalsIgnoreCase(fs.getUri.getScheme)
  private[core] def nio(p: Path): java.nio.file.Path = java.nio.file.Paths.get(p.toUri.getPath)

  /** Create `p` holding `bytes` iff it does not exist. */
  def create(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean =
    claimed(p.toString) {
      if (isLocal(fs)) java.nio.file.Files.write(nio(p), bytes, java.nio.file.StandardOpenOption.CREATE_NEW)
      else {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
      }
    }

  /** Publish the written local file `written` as `target` iff absent. */
  def link(written: java.nio.file.Path, target: java.nio.file.Path): Boolean =
    claimed(target.toString)(java.nio.file.Files.createLink(target, written))

  private def claimed(target: String)(create: => Any): Boolean =
    try { create; true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException | _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException => throw new java.io.IOException(s"cannot create $target: $e", e)
    }

  /** The files `<prefix><N>` directly under `dir` as (N, status), unsorted. */
  def list(fs: FileSystem, dir: Path, prefix: String): Seq[(Long, FileStatus)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption.map(_ -> st) else None
    }

  /** Best-effort delete of superseded state: a failure is logged at WARN
    * (`sweeper` names the caller) and left for the next sweep.
    */
  def sweep(fs: FileSystem, p: Path, sweeper: String): Unit =
    try { if (!fs.delete(p, true)) log.warn(s"$sweeper could not delete $p; the next $sweeper retries") }
    catch { case e: java.io.IOException => log.warn(s"$sweeper could not delete $p; the next $sweeper retries", e) }
}
