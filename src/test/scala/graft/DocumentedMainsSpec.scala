package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable main is a documented entry point, and every documented
  * entry point runs. Hand-run probe mains accumulated unnoticed before
  * (eight of them, with their own copies of the same listener, replaced
  * by [[Profile]]); a main that README's *Running* section does not
  * name as `graft.<Name>` fails here, so a new one is either documented
  * or folded into an existing tool, and a `runMain` line left behind by
  * a deleted main fails too.
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

  /** README's *Running* section, up to the next `## ` heading. */
  private lazy val running: String = {
    val readme = read(Paths.get("README.md"))
    val start = readme.indexOf("\n## Running")
    assert(start >= 0, "README has no '## Running' section")
    val end = readme.indexOf("\n## ", start + 1)
    readme.substring(start, if (end < 0) readme.length else end)
  }

  test("README's Running section names every main under src/main/scala") {
    val mains = mainObjects
    assert(mains.contains("graft.Profile") && mains.contains("graft.Bench"),
      s"main scan is broken: found ${mains.mkString(", ")}")
    val undocumented = mains.filterNot(m =>
      s"\\b${m.replace(".", "\\.")}\\b".r.findFirstIn(running).isDefined)
    assert(undocumented.isEmpty,
      s"mains missing from README's Running section: ${undocumented.mkString(", ")}")
  }

  test("every runMain in README's Running section is a main under src/main/scala") {
    val named = "runMain (graft\\.[\\w.]+)".r.findAllMatchIn(running).map(_.group(1)).toSeq.distinct
    assert(named.contains("graft.Bench"), s"runMain scan is broken: found ${named.mkString(", ")}")
    val stale = named.filterNot(mainObjects.toSet)
    assert(stale.isEmpty, s"README's Running section runs mains that do not exist: ${stale.mkString(", ")}")
  }
}
