package graft

import org.scalatest.funsuite.AnyFunSuite

/** RUNBOOK's "Operational conf summary" table names exactly the `graft.*`
  * conf keys the library reads, so a knob cannot be added or removed
  * without its row. */
class ConfDocSpec extends AnyFunSuite {

  private def files(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("the RUNBOOK conf summary lists exactly the graft.* keys src/main reads") {
    // the rule: grep -rhoE 'getOption\("graft\.[A-Za-z.]+' src/main
    val readKey = """getOption\("(graft\.[A-Za-z.]+)""".r
    val used = files(new java.io.File("src/main"))
      .flatMap(f => readKey.findAllMatchIn(read(f)).map(_.group(1))).toSet
    val section = read(new java.io.File("RUNBOOK.md"))
      .split("\n## ").find(_.startsWith("Operational conf summary"))
      .getOrElse(fail("RUNBOOK.md has no Operational conf summary section"))
    val rowKey = """^\| `(graft\.[A-Za-z.]+)` \|""".r
    val documented = section.linesIterator
      .flatMap(l => rowKey.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(used.nonEmpty, "vacuous gate: src/main reads no graft.* key")
    assert(documented == used,
      s"read but undocumented: ${used -- documented}; " +
        s"documented but not read: ${documented -- used}")
  }
}
