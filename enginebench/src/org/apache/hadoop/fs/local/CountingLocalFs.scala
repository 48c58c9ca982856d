package org.apache.hadoop.fs.local

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** `FileContext` binding of the benchmark's counting file system, for the
  * traced run only (registered through
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`). It is Hadoop's own
  * `LocalFs`, so checksum files and rename semantics stay those of an
  * untraced run; it only counts renames, the one `FileContext` call the
  * engine makes (the lake's exclusive manifest claim, the archive's publish
  * renames). It lives in `LocalFs`'s package because that constructor is
  * package-private.
  */
final class CountingLocalFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    graft.enginebench.CountingFileSystem.count(src, "rename")
    super.renameInternal(src, dst, overwrite)
  }

  override def renameInternal(src: Path, dst: Path): Unit = {
    graft.enginebench.CountingFileSystem.count(src, "rename")
    super.renameInternal(src, dst)
  }
}
