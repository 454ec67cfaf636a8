package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local filesystem under the `naf:` scheme that SIMULATES an object
  * store without atomic create-exclusive: `create(overwrite = false)` is
  * check-then-create with a deliberately widened window, and the create
  * that follows the check is last-writer-wins (a racing PUT simply
  * replaces the earlier one — S3 semantics). This is the adversarial
  * harness for the lock protocols: under it, the default create-exclusive
  * provider REPRODUCES the r12 claim TOCTOU (two claimants both pass
  * the exists check and both "win"), and the fencing-token lease
  * ([[graft.core.LockProvider.Lease]]) must still yield at-most-one
  * winner. Register with
  * `hadoopConf.set("fs.naf.impl", classOf[NonAtomicFileSystem].getName)`
  * and address files as `naf:<absolute local path>`.
  */
object NonAtomicFileSystem {
  /** Widened check→create window (ms) — large enough that racing threads
    * reliably interleave, small enough to keep soaks fast.
    */
  @volatile var raceWindowMs: Long = 4L
}

class NonAtomicFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("naf:///")
  override def getScheme: String = "naf"

  private def widen(): Unit = {
    val w = NonAtomicFileSystem.raceWindowMs
    if (w > 0) Thread.sleep(w)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (!overwrite) {
      if (exists(f)) throw new java.io.IOException(
        s"simulated object store: $f already exists")
      widen() // the TOCTOU window: a racer can now pass the same check
      super.create(f, true, bufferSize, replication, blockSize, progress)
    } else super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (!overwrite) {
      if (exists(f)) throw new java.io.IOException(
        s"simulated object store: $f already exists")
      widen()
      super.create(f, permission, true, bufferSize, replication, blockSize,
        progress)
    } else super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)

  // Object stores have no POSIX modes: RawLocalFileSystem's create()
  // chmods the file right after creating it, and a rival's concurrent
  // DELETE between the two (the steal soak's release racing a fresh PUT)
  // crashes a codepath that on a real object store is one atomic PUT.
  // Swallow only the missing-file case — the object is simply gone.
  override def setPermission(p: Path, permission: FsPermission): Unit =
    try super.setPermission(p, permission)
    catch {
      case e: java.io.IOException
          if e.getMessage != null && (e.getMessage.contains("No such file")
            || e.getMessage.contains("chmod")) => ()
    }

  // same lazy-permission materialization issue as CountingFileSystem:
  // RawLocalFileSystem statuses reject foreign schemes when they load
  // permissions via `new File(uri)`
  private def materialize(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, 1, st.getBlockSize,
      st.getModificationTime, st.getAccessTime,
      FsPermission.getFileDefault, "graft", "graft", st.getPath)
  override def getFileStatus(f: Path): FileStatus =
    materialize(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(materialize)
}
