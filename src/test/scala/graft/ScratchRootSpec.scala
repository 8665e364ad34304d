package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One scratch root and one corpus root: no source file names the
  * absolute path of the checkout it is built from. Such a path makes a
  * copy checked out anywhere else read and write the original's files;
  * scratch goes through [[graft.util.Staging.scratch]] (specs:
  * `SparkSpec.scratch`) and outputs resolve from the working directory.
  * sbt's forked tests start in the checkout root, so that directory is
  * the path looked for. Likewise the test corpus root is named once,
  * [[graft.util.Staging.CorpusRoot]]; everything else resolves through
  * [[graft.util.Staging.corpus]].
  */
class ScratchRootSpec extends AnyFunSuite {

  private val root = Paths.get("").toAbsolutePath.normalize

  /** `file:line` of every line under src/main and src/test containing `needle`. */
  private def linesWith(needle: String): Seq[String] =
    Seq("src/main", "src/test").flatMap { dir =>
      val files = Files.walk(root.resolve(dir))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
      finally files.close()
    }.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${root.relativize(f)}:${i + 1}"
      }
    }

  test("no .scala file under src/main or src/test hard-codes the checkout's path") {
    val hits = linesWith(root.toString)
    assert(hits.isEmpty, s"${hits.size} hard-coded $root path(s):\n${hits.mkString("\n")}")
  }

  test("the test corpus root is spelled once, in Staging") {
    val hits = linesWith(graft.util.Staging.CorpusRoot)
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/util/Staging.scala:"),
      s"corpus root spelled outside Staging.CorpusRoot:\n${hits.mkString("\n")}")
  }
}
