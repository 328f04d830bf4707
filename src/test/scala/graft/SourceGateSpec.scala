package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical gates over the program's source tree. */
class SourceGateSpec extends AnyFunSuite {
  test("computeIfAbsent appears in src/main/scala only inside ops/Once.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${new java.io.File(".").getAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val hits = try walk.iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/ops/Once.scala")))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("computeIfAbsent") &&
              !line.trim.matches("""(//|/?\*).*""") => s"$p:${i + 1}"
        }
      } finally walk.close()
    // a build-once map belongs in ops.Once: a computeIfAbsent that builds
    // runs its build under the map's bin lock
    assert(hits.isEmpty, s"hand-rolled get-or-build maps: ${hits.mkString(", ")}")
  }
}
