package graft.bank

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** Small-file helpers shared by the bank sidecars: read a marker file
  * whole, and publish one atomically (hidden tmp + the one Hadoop
  * rename that overwrites atomically) so a reader sees either the old
  * or the new content, never a missing or truncated file.
  */
private[bank] object FsUtil {

  /** Reads through a checksummed filesystem's raw side: a publish
    * renames the data file and its `.crc` file one after the other, so
    * a checked read racing it can pair new data with the old checksum
    * and fail. The data file itself is swapped in one rename.
    */
  def readSmallFile(fs: FileSystem, p: Path): Option[String] = {
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    if (!raw.exists(p)) None
    else {
      val in = raw.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  def atomicWriteSmall(fs: FileSystem,
                       conf: org.apache.hadoop.conf.Configuration,
                       dst: Path, content: String): Unit = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val os = fs.create(tmp, true)
    try os.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(conf)
    fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
