package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable main is a documented entry point. Hand-run probe mains
  * accumulated unnoticed before (eight of them, with their own copies
  * of the same listener, replaced by [[Profile]]); a main that README's
  * *Running* section does not name as `graft.<Name>` now fails here, so
  * a new one is either documented or folded into an existing tool.
  */
class DocumentedMainsSpec extends AnyFunSuite {

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  /** Fully qualified names of the objects that declare a `def main`. */
  private def mainObjects: Seq[String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.flatMap { f =>
      val src = read(f)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val owner = "\\bobject (\\w+)".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1)
        pkg + owner
      }
    }.distinct.sorted
  }

  test("README's Running section names every main under src/main/scala") {
    val readme = read(Paths.get("README.md"))
    val start = readme.indexOf("\n## Running")
    assert(start >= 0, "README has no '## Running' section")
    val end = readme.indexOf("\n## ", start + 1)
    val running = readme.substring(start, if (end < 0) readme.length else end)
    val mains = mainObjects
    assert(mains.contains("graft.Profile") && mains.contains("graft.Bench"),
      s"main scan is broken: found ${mains.mkString(", ")}")
    val undocumented = mains.filterNot(m =>
      s"\\b${m.replace(".", "\\.")}\\b".r.findFirstIn(running).isDefined)
    assert(undocumented.isEmpty,
      s"mains missing from README's Running section: ${undocumented.mkString(", ")}")
  }
}
