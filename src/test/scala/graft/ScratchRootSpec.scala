package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One scratch root: no source file names the absolute path of the
  * checkout it is built from. Such a path makes a copy checked out
  * anywhere else read and write the original's files; scratch goes
  * through [[graft.util.Staging.scratch]] (specs: `SparkSpec.scratch`)
  * and outputs resolve from the working directory. sbt's forked tests
  * start in the checkout root, so that directory is the path looked for.
  */
class ScratchRootSpec extends AnyFunSuite {

  test("no .scala file under src/main or src/test hard-codes the checkout's path") {
    val root = Paths.get("").toAbsolutePath.normalize
    val needle = root.toString
    val hits = Seq("src/main", "src/test").flatMap { dir =>
      val files = Files.walk(root.resolve(dir))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
      finally files.close()
    }.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${root.relativize(f)}:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"${hits.size} hard-coded $needle path(s):\n${hits.mkString("\n")}")
  }
}
