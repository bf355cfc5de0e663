package graft.core

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with one change: permissions are
  * set through `java.nio` instead of a forked `chmod`. Without the native
  * Hadoop library, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand(chmod …)` for every directory, file and `.crc`
  * side file a parquet write creates, about 240 process starts per cube
  * build. `.crc` checksums are still written and verified.
  *
  * `CubeRun.runTiles` installs it on its cloned session only, with
  * `fs.file.impl` and `fs.file.impl.disable.cache = true`. Hadoop's
  * `FileSystem.Cache` is keyed by scheme, authority and user, not by
  * conf, and the stock `file:` instance is cached before a run starts,
  * so setting the impl alone would keep returning that stock instance.
  * With the cache off for the run's conf, each `getFileSystem` under it
  * builds this class; every other session keeps the cached stock one.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The raw local filesystem with a fork-free `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
      val view = java.nio.file.Files.getFileAttributeView(
        pathToFile(p).toPath, classOf[PosixFileAttributeView])
      // without the sticky bit, the symbolic form is exactly the nine
      // rwx bits java.nio parses
      if (perm.getStickyBit || view == null) super.setPermission(p, perm)
      else view.setPermissions(PosixFilePermissions.fromString(perm.toString))
    }
  }
}
