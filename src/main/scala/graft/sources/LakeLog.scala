package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

/** How every lake log publishes a file: Delta commits and checkpoints,
  * Iceberg `vN.metadata.json` versions and the ingest catalog's
  * `_txn_log` all go through here (the per-store log layer of the Delta
  * Lake paper, PAPERS.md).
  *
  *  - [[claim]] is the commit primitive, an atomic put-if-absent: the
  *    content is written to a temp file beside the target and hard-linked
  *    to the target name. A link fails atomically when the name exists, so
  *    exactly one of any number of concurrent claimants wins each version,
  *    and no reader ever sees a partly written version. (A rename would
  *    silently replace an existing target: a lost update.)
  *  - [[replace]] swaps an advisory pointer file (`version-hint.text`,
  *    `_last_checkpoint`) by an atomic rename, so a reader sees the old or
  *    the new pointer, never a torn one.
  *
  * Temp files are hidden (`.<name>.*.tmp`) and deleted whatever happens.
  * The targets are file systems with atomic link and rename (local, NFS,
  * HDFS-style); an object store needs a commit coordinator, as stock Delta
  * needs on S3. */
object LakeLog {

  /** Publish `content` as `dir/name` unless that name exists; true when
    * this call created it, false when another claimant already had. */
  def claim(dir: Path, name: String, content: String): Boolean = {
    val tmp = writeTemp(dir, name, content)
    try claim(dir, name, tmp) finally Files.deleteIfExists(tmp)
  }

  /** Put-if-absent of a file already written inside `dir`'s file system
    * (a staged checkpoint). The staged file is left to the caller. */
  def claim(dir: Path, name: String, staged: Path): Boolean =
    try { Files.createLink(dir.resolve(name), staged); true }
    catch { case _: FileAlreadyExistsException => false }

  /** Atomically set `dir/name` to `content`, replacing any previous one. */
  def replace(dir: Path, name: String, content: String): Unit = {
    val tmp = writeTemp(dir, name, content)
    try Files.move(tmp, dir.resolve(name), ATOMIC_MOVE, REPLACE_EXISTING)
    finally Files.deleteIfExists(tmp)
  }

  private def writeTemp(dir: Path, name: String, content: String): Path = {
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".$name.", ".tmp")
    try Files.writeString(tmp, content)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    tmp
  }
}
