package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions

/** The main source tree as text, for checks that a design rule holds
  * in the code itself (one home per step, one way to open a source). */
object MainSources {

  /** One source line: `path:line: text` when printed. */
  case class Hit(path: Path, line: Int, text: String) {
    def fileName: String = path.getFileName.toString
    override def toString: String = s"$path:$line: $text"
  }

  /** Every regular file under `src/main` with its text. */
  def files: Seq[(Path, String)] = {
    val root = Paths.get("src/main")
    Assertions.assert(Files.isDirectory(root),
      s"run from the repository root: $root")
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> new String(Files.readAllBytes(p), UTF_8)).toSeq
  }

  /** Every line under `src/main` that `pick` accepts. */
  def lines(pick: (Path, String) => Boolean): Seq[Hit] =
    files.flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if pick(p, line) => Hit(p, i + 1, line)
      }
    }
}
