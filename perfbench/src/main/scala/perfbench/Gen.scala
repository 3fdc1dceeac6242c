package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded input generation helpers. Every generator draws from its own
  * `SplittableRandom` seeded from the run's seed and a stream name, so
  * adding a generator never shifts another's inputs, and the same seed
  * always yields byte-identical files.
  */
object Gen {

  def rng(seed: Long, stream: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A seeded permutation of 0 until n. */
  def permutation(n: Int, r: java.util.SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def writeLines(path: Path, lines: Iterable[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  /** Move a staged file into a watched directory in one step, so a
    * stream never lists it half written.
    */
  def land(staged: Path, dir: Path): Path = {
    Files.createDirectories(dir)
    Files.move(staged, dir.resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Total bytes of the regular files under `root`. */
  def duBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** SHA-256 over every file under `root`, in path order. */
  def digest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).sorted().forEach { p =>
      md.update(root.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    } finally s.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}
