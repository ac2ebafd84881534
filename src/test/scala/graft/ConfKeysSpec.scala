package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` key the engine reads is listed in the
  * RUNBOOK's "Tuning keys" table, and every key listed there is still
  * read — so a knob cannot be added or left behind silently. */
class ConfKeysSpec extends AnyFunSuite {

  private val keyRe = """spark\.graft\.[A-Za-z.]+""".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  test("the spark.graft.* keys in src/main/scala are exactly the " +
    "RUNBOOK's Tuning keys table") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val inCode =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => keyRe.findAllIn(read(p)))
        .map(_.stripSuffix("."))
        .toSet
      finally walk.close()

    val runbook = read(Paths.get("docs/RUNBOOK.md"))
    val section = runbook
      .split("\n## ").find(_.startsWith("Tuning keys\n"))
      .getOrElse(fail("docs/RUNBOOK.md has no '## Tuning keys' section"))
    val inTable = section.linesIterator
      .filter(_.startsWith("| `spark.graft."))
      .map(l => keyRe.findFirstIn(l).get)
      .toSet

    assert(inCode === inTable)
    assert(inTable.size === 8)
  }
}
