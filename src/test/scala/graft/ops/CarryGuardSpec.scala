package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one carry path: a value carried across time buckets comes only
  * from [[BucketedPassExec]]'s carry-in mode, so no production code frames
  * a window over the rows strictly before the current one. */
class CarryGuardSpec extends AnyFunSuite {

  test("no src/main window frames rowsBetween(Window.unboundedPreceding, -1)") {
    val root = Paths.get("src/main/scala")
    val frame = """rowsBetween\(\s*Window\.unboundedPreceding\s*,\s*-\s*1\s*\)""".r
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = for {
      f: Path <- sources
      text = new String(Files.readAllBytes(f), "UTF-8")
      m <- frame.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
