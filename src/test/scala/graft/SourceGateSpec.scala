package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical gates over the program's source tree. */
class SourceGateSpec extends AnyFunSuite {
  /** Every code line (comment lines excluded) of src/main/scala, as
    * (path relative to src/main/scala, 1-based line number, text). */
  private def codeLines(): Seq[(String, Int, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${new java.io.File(".").getAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.matches("""(//|/?\*).*""") =>
            (root.relativize(p).toString, i + 1, line)
        }
      } finally walk.close()
  }

  test("computeIfAbsent appears in src/main/scala only inside ops/Once.scala") {
    val hits = codeLines().collect {
      case (p, i, line) if line.contains("computeIfAbsent") &&
          p != "graft/ops/Once.scala" => s"$p:$i"
    }
    // a build-once map belongs in ops.Once: a computeIfAbsent that builds
    // runs its build under the map's bin lock
    assert(hits.isEmpty, s"hand-rolled get-or-build maps: ${hits.mkString(", ")}")
  }

  test("UploadService takes no RDD hop: no .rdd or zipWithIndex on a code line") {
    val hits = codeLines().collect {
      case (p, i, line) if p == "graft/ops/UploadService.scala" &&
          (line.contains(".rdd") || line.contains("zipWithIndex")) => s"$p:$i"
    }
    // line ids come from the scan and the split count from the planned
    // scan; a Dataset → RDD → Dataset round trip re-plans and re-encodes
    // every row
    assert(hits.isEmpty, s"RDD hops in the upload: ${hits.mkString(", ")}")
  }

  test("the settable spark.graft.* keys are the five pinned ones, each in its one file") {
    val key = """"spark\.graft\.([A-Za-z]+(?:\.[A-Za-z]+)*)""".r
    val found = codeLines()
      .flatMap { case (p, _, line) => key.findAllMatchIn(line).map(m => p -> m.group(1)) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    // a value only one caller uses is a constant, not a key; a key is
    // added to or dropped from this list in the change that does so
    assert(found == Map(
      "graft/ops/PairCap.scala" -> Set("pairs.maxPerId"),
      "graft/ops/Similarity.scala" -> Set("cluster.algo",
        "cluster.reliableCheckpoint", "snd.passes", "cos.cells")),
      s"spark.graft.* keys by file: $found")
  }
}
