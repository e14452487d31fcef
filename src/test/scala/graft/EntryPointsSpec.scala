package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The README module map is a registry of the engine's `main` objects; it
  * must come from the code. A new `object … { def main(` without a README
  * entry fails here, and so does an entry naming a file that is gone.
  * README's "Cache ownership" paragraph is the same kind of registry for
  * the `graft.*` session-conf keys the engine reads. */
class EntryPointsSpec extends AnyFunSuite {

  private val srcRoot = Paths.get("src/main/scala/graft")

  private def scalaFiles: Seq[Path] = {
    val walk = Files.walk(srcRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private val objectWithMain =
    """(?s)\bobject\s+\w+[^{]*\{.*?\bdef\s+main\s*\(""".r

  /** The fenced block that follows README's "Entry points" paragraph. */
  private def readmeEntryPoints: (Set[String], Set[String]) = {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val section = readme.split("\n## ").find(_.startsWith("Module map"))
      .getOrElse(fail("README.md has no '## Module map' section"))
    val blocks = section.split("```").zipWithIndex.collect {
      case (b, i) if i % 2 == 1 => b
    }.toSeq
    def entries(block: String) = """[\w/]+\.scala""".r.findAllIn(block).toSet
    val entry = section.indexOf("Entry points")
    assert(entry >= 0, "README module map lost its 'Entry points' block")
    val mainsBlock = section.substring(entry).split("```")(1)
    (entries(mainsBlock), blocks.flatMap(entries).toSet)
  }

  test("README entry-point list == every object with a main, both directions") {
    val mains = scalaFiles
      .filter(f => objectWithMain.findFirstIn(
        new String(Files.readAllBytes(f), "UTF-8")).isDefined)
      .map(f => srcRoot.relativize(f).toString).toSet
    val (listed, _) = readmeEntryPoints
    assert(mains.nonEmpty)
    assert((mains -- listed).isEmpty,
      s"mains missing from README's entry points: ${mains -- listed}")
    assert((listed -- mains).isEmpty,
      s"README entry points that are not mains: ${listed -- mains}")
  }

  test("every .scala file the README module map names exists") {
    val (_, named) = readmeEntryPoints
    val missing = named.filterNot(n => Files.isRegularFile(srcRoot.resolve(n)))
    assert(missing.isEmpty, s"README module map names deleted files: $missing")
  }

  test("graft.* conf keys in src/main == the keys README's Cache ownership paragraph names") {
    val key = """\bgraft\.[a-z]\w*""".r
    val inCode = scalaFiles.flatMap { f =>
      """"(graft\.[a-z]\w*)"""".r
        .findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8")).map(_.group(1))
    }.toSet
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val paragraph = readme.split("\n- ").find(_.startsWith("**Cache ownership"))
      .getOrElse(fail("README.md lost its 'Cache ownership' paragraph"))
    val documented = key.findAllIn(paragraph).toSet
    assert(inCode.nonEmpty)
    assert((inCode -- documented).isEmpty,
      s"conf keys read in src/main but not documented: ${inCode -- documented}")
    assert((documented -- inCode).isEmpty,
      s"documented conf keys no code reads: ${documented -- inCode}")
  }

  test("Probe: an unknown or missing sub-command fails with a usage line naming both") {
    Seq(Array.empty[String], Array("nope", "/x"), Array("session")).foreach { args =>
      val e = intercept[IllegalArgumentException](Probe.main(args))
      assert(e.getMessage.contains("session|cap"), e.getMessage)
    }
  }
}
