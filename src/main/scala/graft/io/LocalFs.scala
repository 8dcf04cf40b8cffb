package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, with file modes set in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * forks a `chmod` child process, and `LocalFileSystem` calls it for every
  * file it creates (the data file and its `.crc`) and every directory it
  * makes. Here the rwx bits go through `Files.setPosixFilePermissions`
  * instead; the files, their bytes and their modes are the same.
  * [[graft.GraftSession]] registers it as `fs.file.impl`.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  // PosixFilePermission declares owner, group, others × read, write,
  // execute: the order of the mode bits from 0400 down to 01
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (1 << (8 - i), p) }

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // sticky and setuid/setgid bits have no PosixFilePermission
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = new java.util.HashSet[PosixFilePermission]()
        bits.foreach { case (bit, perm) => if ((mode & bit) != 0) perms.add(perm) }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
