package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Session config forked once: thirteen hand-copied builders drifted
  * apart, and the CLI's copy lost the engine's SQL extensions. Every
  * entry point builds its session through [[Engine.session]]; this spec
  * fails if a second `SparkSession.builder(` appears in the program. */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder( appears in src/main/scala only in graft/Engine.scala") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    assert(sources.nonEmpty, s"no sources under $root")
    val builders = sources.filter(p =>
      new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder("))
    assert(builders.map(root.relativize(_).toString) == Seq("graft/Engine.scala"),
      "build sessions with graft.Engine.session, not a new SparkSession.builder()")
  }
}
