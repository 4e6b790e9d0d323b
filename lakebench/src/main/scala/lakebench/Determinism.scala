package lakebench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Self-test: the generator's plain files for one seed, written twice
  * into two fresh directories, must be byte-identical; a second seed
  * must differ. Exit code 0 on success. */
object Determinism {
  private def digest(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val md = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f))
      root.relativize(f).toString -> md.map(b => f"${b & 0xff}%02x").mkString
    }.toMap

  private def write(dir: Path, seed: Long): Map[String, String] = {
    val in = new Inputs(dir, seed)
    in.writeHistory()
    in.writeDocCsvs()
    digest(in.dir)
  }

  def run(scratch: Path): Int = {
    Inputs.deleteTree(scratch)
    val a = write(scratch.resolve("a"), 1L)
    val b = write(scratch.resolve("b"), 1L)
    val c = write(scratch.resolve("c"), 2L)
    Inputs.deleteTree(scratch)
    val same = a.nonEmpty && a == b
    val differs = a.keySet == c.keySet && a != c
    System.err.println(s"[lakebench] determinism: ${a.size} files, same seed identical=$same, other seed differs=$differs")
    if (same && differs) 0 else 1
  }
}
