package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The README's "Knobs" table documents every `SPARK_GRAFT_*` environment
  * variable the program reads, each with its production value, and
  * nothing else. */
class KnobsSpec extends AnyFunSuite {
  private val knob = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("the README knob table lists exactly the SPARK_GRAFT_* variables src/main reads") {
    val read = scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => knob.findAllIn(Files.readString(p))).toSet
    }
    val rows = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .dropWhile(_ != "## Knobs").drop(1).takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `SPARK_GRAFT_"))
    val documented = rows.flatMap(knob.findFirstIn)
    assert(read.nonEmpty)
    assert(documented.distinct == documented, "a knob has two rows")
    assert(documented.toSet == read,
      s"read but not documented: ${read -- documented}; " +
        s"documented but not read: ${documented.toSet -- read}")
    // | variable | read by | production value |
    for (r <- rows)
      assert(r.split('|').map(_.trim).count(_.nonEmpty) == 3,
        s"a knob row without its reader or production value: $r")
  }
}
