package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tooling pin: [[Engine.session]] is the only SparkSession builder in
  * the main sources, so every main, spec and benchmark runs one session
  * configuration. Hand-built copies drift from it line by line. */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main/scala only in Engine.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found at ${root.toAbsolutePath}")
    val builder = """SparkSession\s*\.\s*builder""".r
    val walk = Files.walk(root)
    val withBuilder =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          builder.findFirstIn(Files.readString(p)).isDefined)
        .map(p => root.relativize(p).toString).toList
      finally walk.close()
    assert(withBuilder === List("graft/Engine.scala"))
  }
}
