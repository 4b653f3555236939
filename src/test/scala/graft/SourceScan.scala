package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Code-only view of the main sources for the guard specs: scaladocs
  * and comments may name the history, code may not. */
object SourceScan {

  def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** Every `.scala` file under src/main with its comments stripped. */
  def mainSources(): Seq[(Path, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"expected to run from the repository root, cwd=${sys.props("user.dir")}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(Files.readString(p))).toList
    finally walk.close()
  }
}
