package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Main-source text for the static-scan specs. */
object MainSources {

  def files: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** The file's code with block and line comments removed. */
  def code(p: Path): String =
    Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "")
      .linesIterator.map { l =>
        val i = l.indexOf("//")
        if (i >= 0) l.substring(0, i) else l
      }.mkString("\n")
}
