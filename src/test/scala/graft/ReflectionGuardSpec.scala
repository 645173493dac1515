package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark's private APIs are reached through compile-checked bridges in
  * `org.apache.spark.sql` (`GraftColumnBridge`, `GraftPlanBridge`,
  * `GraftWriteBridge`), so a Spark upgrade that moves one breaks the
  * build instead of a query at run time. The single reflective hop left
  * is `GraftSession.build`'s: the constructor it calls is Scala-private,
  * out of a bridge's reach too. This spec keeps it the only one.
  */
class ReflectionGuardSpec extends AnyFunSuite {
  private val reflective = """Class\.forName|getMethod\(|getConstructors|\.invoke\(""".r

  /** Line indexes of `GraftSession.build`'s body in GraftDml.scala. */
  private def buildBody(lines: Seq[String]): Range = {
    val start = lines.indexWhere(_.contains("private def build(spark: SparkSession)"))
    assert(start >= 0, "GraftSession.build not found in GraftDml.scala")
    val indent = lines(start).takeWhile(_ == ' ')
    val end = lines.indexWhere(_ == s"$indent}", start)
    assert(end > start, "the end of GraftSession.build not found")
    start to end
  }

  test("the only reflective call in src/main is GraftSession.build's") {
    val srcRoot = Paths.get("src/main/scala")
    assert(Files.isDirectory(srcRoot), s"run from the repo root: no ${srcRoot.toAbsolutePath}")
    val files: Seq[Path] = Files.walk(srcRoot).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    var allowedHits = 0
    val hits = files.flatMap { p =>
      val lines = new String(Files.readAllBytes(p), UTF_8).split("\n", -1).toSeq
      val allowed =
        if (p.getFileName.toString == "GraftDml.scala") buildBody(lines) else 0 until 0
      lines.indices.filter(i => reflective.findFirstIn(lines(i)).nonEmpty).flatMap { i =>
        if (allowed.contains(i)) { allowedHits += 1; None }
        else Some(s"$p:${i + 1}: ${lines(i).trim}")
      }
    }
    assert(hits.isEmpty, "reflective calls into Spark outside GraftSession.build — " +
      "add the hop to a bridge in org.apache.spark.sql instead:\n" + hits.mkString("\n"))
    // the scan itself works: it sees the one hop it allows
    assert(allowedHits > 0, "the scan found no reflective call in GraftSession.build")
  }
}
