package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` key the engine reads is listed in the
  * RUNBOOK's "Tuning keys" table, every environment variable it reads
  * in its "Environment" table, and every name listed there is still
  * read — so a knob or an environment hook cannot be added or left
  * behind silently. */
class ConfKeysSpec extends AnyFunSuite {

  private val keyRe = """spark\.graft\.[A-Za-z.]+""".r
  // an environment read: sys.env.get/getOrElse/contains/apply,
  // sys.env(...) or System.getenv, of a literal name
  private val envReadRe =
    """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([A-Za-z_][A-Za-z0-9_]*)"""".r
  private val envUseRe = """sys\.env|System\.getenv""".r
  private val envRowRe = """^\| `([A-Za-z_][A-Za-z0-9_]*)` \|""".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private val sources: Seq[String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(read).toList
    finally walk.close()
  }

  /** The body of the RUNBOOK's `## <title>` section. */
  private def runbookSection(title: String): String =
    read(Paths.get("docs/RUNBOOK.md"))
      .split("\n## ").find(_.startsWith(title + "\n"))
      .getOrElse(fail(s"docs/RUNBOOK.md has no '## $title' section"))

  test("the spark.graft.* keys in src/main/scala are exactly the " +
    "RUNBOOK's Tuning keys table") {
    val inCode = sources.flatMap(keyRe.findAllIn(_)).map(_.stripSuffix(".")).toSet
    val inTable = runbookSection("Tuning keys").linesIterator
      .filter(_.startsWith("| `spark.graft."))
      .map(l => keyRe.findFirstIn(l).get)
      .toSet

    assert(inCode === inTable)
    assert(inTable.size === 4)

    // every environment read names its variable literally, and the
    // names read are exactly the Environment table's
    val reads = sources.flatMap(envReadRe.findAllMatchIn(_)).map(_.group(1))
    assert(reads.size === sources.map(envUseRe.findAllIn(_).size).sum,
      "an environment read whose name is not a string literal")
    val envTable = runbookSection("Environment").linesIterator
      .flatMap(l => envRowRe.findFirstMatchIn(l).map(_.group(1)))
      .toSet
    assert(reads.toSet === envTable)
  }
}
