package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest

/** One generated source file: its name under the corpus dir, its size and
  * its SHA-256, the digest every output is compared with. */
final case class SourceFile(name: String, size: Long, sha256: String)

/** Seeded input generation. Every byte, size and timestamp derives from the
  * seed, so one seed always gives the same corpus. */
object Corpus {
  /** Fixed base for file modification times (2024-01-01T00:00:00Z). */
  val BaseMtimeMs: Long = 1704067200000L

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  def sha256(p: Path): String = sha256(Files.readAllBytes(p))

  /** PRNG bytes: incompressible. */
  def randomBytes(rnd: java.util.Random, size: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    rnd.nextBytes(b)
    b
  }

  /** Instrument-like numeric array: little-endian int16 samples of a slow
    * sine sweep plus small noise. Low entropy, so parquet compression on the
    * topic has real work to do. */
  def numericBytes(rnd: java.util.Random, size: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    val period = 2000.0 + rnd.nextInt(6000)
    val amp = 1000 + rnd.nextInt(8000)
    var i = 0
    while (i + 1 < size) {
      val v = (amp * math.sin((i >> 1) / period) + rnd.nextInt(8)).toInt
      b(i) = v.toByte
      b(i + 1) = (v >> 8).toByte
      i += 2
    }
    b
  }

  /** Write `bytes` to `dir/name` with a deterministic modification time. */
  def write(dir: Path, name: String, bytes: Array[Byte], mtimeMs: Long): SourceFile = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    Files.write(p, bytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
    SourceFile(name, bytes.length.toLong, sha256(bytes))
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }

  def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
}
