package graft.core

/** Filesystem helpers for the staged publication writes. */
object Fs {

  /** Name prefix for in-progress staged files under a publication work
    * tree. Executor-side staged writes (COG band files, quicklook PNGs)
    * stream into a uniquely-named temp sibling and become visible under
    * the final name only via an atomic rename — so a DUPLICATE attempt
    * (speculative execution, a zombie retry) killed mid-write can never
    * leave a torn file under an asset's final name for the item commit
    * to publish. `graft.cube.Publish.commitItem` recognizes the prefix
    * and sweeps abandoned temps instead of committing them.
    */
  val StagedTempPrefix = ".graft-tmp."

  /** Is `p` an in-progress staged temp (never commit these)? */
  def isStagedTemp(p: java.nio.file.Path): Boolean = {
    val name = p.getFileName
    name != null && name.toString.startsWith(StagedTempPrefix)
  }

  /** Unique temp sibling for `dest` — SAME directory, so the commit
    * rename below stays within one filesystem and can be atomic.
    */
  def stagedTempFor(dest: java.nio.file.Path): java.nio.file.Path =
    dest.resolveSibling(StagedTempPrefix +
      java.util.UUID.randomUUID().toString + "." + dest.getFileName.toString)

  /** Publish a finished temp file under its final name: ATOMIC_MOVE
    * where the filesystem supports it, plain replace-move otherwise.
    * Replace semantics keep duplicate attempts idempotent — both
    * attempts produced the same bytes, last rename wins whole.
    */
  def commitStagedTemp(tmp: java.nio.file.Path,
                       dest: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, dest, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  /** Write `bytes` to `dest` with the write-then-rename discipline above
    * (the one-shot form, for payloads already assembled in memory).
    */
  def writeAtomic(dest: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    val tmp = stagedTempFor(dest)
    java.nio.file.Files.write(tmp, bytes): Unit
    commitStagedTemp(tmp, dest)
  }

  /** A new directory under `java.io.tmpdir` that is deleted with
    * [[deleteTree]] when the JVM exits. For callers that return a lazy
    * frame over the directory and so cannot delete it in a `finally`;
    * one shutdown hook serves every such directory.
    */
  def tempDirDeletedAtExit(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    deletedAtExit.add(dir)
    dir
  }

  private lazy val deletedAtExit = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach { d =>
        try deleteTree(d)
        catch { case scala.util.control.NonFatal(_) => () }
      }))
    dirs
  }

  /** Delete `root` and everything under it, deepest first; a missing
    * root is a no-op.
    */
  def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toList.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
}
