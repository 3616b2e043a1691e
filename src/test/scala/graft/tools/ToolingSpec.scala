package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the single session factory and the single job-shape collector
  * from growing back: the one-off tools they replaced each built their
  * own session (nine with a hard-coded `local[32]`) and three kept
  * their own SparkListener. ExtensionsSmoke is the one exemption — it
  * must inject GraftExtensions at build time. */
class ToolingSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path, source with comments removed) of every main Scala file. */
  private lazy val sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p)
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", ""))
    finally walk.close()
  }

  private def offenders(pattern: String, exempt: Set[String]): Seq[String] =
    sources.collect {
      case (p, src) if !exempt(p.getFileName.toString) &&
        pattern.r.findFirstIn(src).nonEmpty => p.toString
    }.sorted

  test("only Engine (and ExtensionsSmoke) build a SparkSession") {
    assert(sources.size > 50)
    assert(offenders("""SparkSession\s*\.\s*builder\b""",
      Set("Engine.scala", "ExtensionsSmoke.scala")) == Nil)
  }

  test("no hard-coded local[N] master outside ExtensionsSmoke") {
    assert(offenders("""local\[\d+\]""", Set("ExtensionsSmoke.scala")) == Nil)
  }

  test("graft.Profile's collector is the one SparkListener") {
    assert(offenders("""(new|extends|with)\s+SparkListener\b""",
      Set("Profile.scala")) == Nil)
  }
}
