package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Deterministic input generation and order-free checksums. */
object Gen {
  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(mix(a) ^ b) ^ c)

  /** Order-independent checksum of a collection of rendered rows. */
  def checksum(rows: Iterable[String]): String = {
    val sorted = rows.toSeq.sorted
    val md = MessageDigest.getInstance("SHA-256")
    sorted.foreach { r => md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(10: Byte) }
    s"${sorted.size}:" + md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Anchored regex for an fnmatch-style glob of `*`, `?` and `[...]`. */
  def globRegex(glob: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    var i = 0
    while (i < glob.length) {
      glob(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val close = glob.indexOf(']', i + 1)
          sb.append(glob.substring(i, close + 1)); i = close
        case ch => sb.append(java.util.regex.Pattern.quote(ch.toString))
      }
      i += 1
    }
    java.util.regex.Pattern.compile(sb.toString)
  }

  /** Bytes under `dir`, recursively (0 when absent). */
  def diskBytes(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(diskBytes).sum

  def fileCount(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) { if (dir.getName.startsWith(".")) 0L else 1L }
    else Option(dir.listFiles()).toSeq.flatten.map(fileCount).sum

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
