package org.apache.hadoop.fs.local

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream,
  FileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The FileContext face of the same counting: `FileContext` calls
  * (the state store's commit-point rename)
  * reach `AbstractFileSystem`, never `FileSystem`. Installed through
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`; it lives in Hadoop's
  * package because `LocalFs`'s constructor is package-private.
  */
class CountingLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends LocalFs(uri, conf) {
  import jobbench.FsTrace.op

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    op("open", f)(super.open(f, bufferSize))

  override def createInternal(f: Path, flag: EnumSet[CreateFlag],
      absolutePermission: FsPermission, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: Options.ChecksumOpt,
      createParent: Boolean): FSDataOutputStream =
    op("create", f)(super.createInternal(f, flag, absolutePermission, bufferSize,
      replication, blockSize, progress, checksumOpt, createParent))

  override def renameInternal(src: Path, dst: Path): Unit =
    op("rename", src)(super.renameInternal(src, dst))

  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    op("rename", src)(super.renameInternal(src, dst, overwrite))

  override def delete(f: Path, recursive: Boolean): Boolean =
    op("delete", f)(super.delete(f, recursive))

  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit =
    op("mkdirs", dir)(super.mkdir(dir, permission, createParent))

  override def getFileStatus(f: Path): FileStatus =
    op("stat", f)(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    op("stat", f)(super.getFileLinkStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    jobbench.FsTrace.list(f)(super.listStatus(f))

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    op("list", f)(super.listStatusIterator(f))
}
