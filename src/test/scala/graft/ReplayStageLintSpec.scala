package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Ordered-replay staging lint: stamping file mtimes and setting
 * `maxFilesPerTrigger` are the two halves of the replay contract, and
 * both live in [[ReplayStage]] alone, next to its file-count check. A
 * staging block anywhere else in `src/main` would carry its own check
 * and stamp, free to drift from the contract; it fails `sbt test` here.
 */
class ReplayStageLintSpec extends AnyFunSuite {

  private val Banned = Seq("setLastModified(", "maxFilesPerTrigger")

  /** `path:line` of every banned token in a `.scala` file under `root`
    * other than ReplayStage.scala. */
  private def offenders(root: Path): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ReplayStage.scala")
      .toSeq.sorted
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if Banned.exists(line.contains) => s"$p:${i + 1}"
        }
      }
    finally files.close()
  }

  test("replay staging appears in src/main only inside ReplayStage.scala") {
    val main = Paths.get("src/main")
    assume(Files.isDirectory(main), "src/main not under the working directory")
    assert(Files.exists(main.resolve("scala/graft/ReplayStage.scala")))
    val found = offenders(main)
    assert(found.isEmpty,
      s"route replay staging through graft.ReplayStage:\n${found.mkString("\n")}")
  }

  test("negative control: a hand-copied stamp or reader option is caught") {
    val dir = Files.createTempDirectory("replay_lint_")
    Files.write(dir.resolve("Copy.scala"),
      Seq("f.setLastModified(0L)", """.option("maxFilesPerTrigger", "1")""",
        "val ok = 1").asJava)
    Files.write(dir.resolve("ReplayStage.scala"),
      Seq("f.setLastModified(0L)").asJava)
    assert(offenders(dir) == Seq(s"${dir.resolve("Copy.scala")}:1",
      s"${dir.resolve("Copy.scala")}:2"))
  }
}
