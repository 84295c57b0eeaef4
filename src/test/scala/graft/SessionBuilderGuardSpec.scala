package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session: main code calls `SparkSession.builder()`
  * only inside `GraftSession.create`, so every entry point measures and
  * ships the same configuration (extensions, UTC, AQE, checkpoint file
  * manager). Test code keeps its own shared session: specs compare
  * against Spark's defaults on purpose.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {
  test("SparkSession.builder() appears in main code only in GraftSession.create") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val builder = "SparkSession\\s*\\.\\s*builder\\b".r
    def isComment(l: String) = {
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // (file, 0-based line) of every non-comment builder call
    val hits: Seq[(Path, Int)] = sources.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !isComment(l) && builder.findFirstIn(l).isDefined => (f, i)
      }
    }
    assert(hits.size == 1, hits.map { case (f, i) => s"$f:${i + 1}" })
    val (file, line) = hits.head
    val before = Files.readAllLines(file).asScala.take(line)
    def last(rx: String) = before.filter(_.trim.matches(rx)).lastOption.map(_.trim)
    assert(last("(case )?(class|object) .*").exists(_.startsWith("object GraftSession")),
      s"$file:${line + 1}")
    assert(last("(private )?def .*").exists(_.startsWith("def create(")),
      s"$file:${line + 1}")
  }
}
