package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The program's code lines, for the source-scanning lint specs. */
object SourceScan {

  /** (file relative to `root`, line number, trimmed code) for each code
    * line of every `.scala` file under `root`, with line comments and
    * block comments removed.
    */
  def codeLines(root: Path): Seq[(String, Int, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      strip(Files.readAllLines(f).asScala.toSeq).map { case (n, code) =>
        (rel, n, code)
      }
    }
  }

  private def strip(src: Seq[String]): Seq[(Int, String)] = {
    var inBlock = false
    src.zipWithIndex.flatMap { case (raw, i) =>
      var line = raw
      if (inBlock) {
        val end = line.indexOf("*/")
        if (end < 0) line = "" else { inBlock = false; line = line.substring(end + 2) }
      }
      val open = line.indexOf("/*")
      if (open >= 0) {
        val close = line.indexOf("*/", open + 2)
        if (close < 0) inBlock = true
        line = line.substring(0, open) +
          (if (close < 0) "" else line.substring(close + 2))
      }
      val lineComment = line.indexOf("//")
      if (lineComment >= 0) line = line.substring(0, lineComment)
      if (line.trim.isEmpty) None else Some((i + 1, line.trim))
    }
  }
}
