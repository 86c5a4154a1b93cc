package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the staging decision in one module: [[Staging]] is the only
  * production code that may call `localCheckpoint`. */
class StagingGuardSpec extends AnyFunSuite {

  test("localCheckpoint is called only in graft/ops/Staging.scala") {
    val root = Paths.get("src/main/scala")
    val allowed = root.resolve("graft/ops/Staging.scala")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(Files.isRegularFile(allowed), s"no $allowed under ${root.toAbsolutePath}")
    val offenders = for {
      f: Path <- sources if f != allowed
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if line.contains(".localCheckpoint(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
