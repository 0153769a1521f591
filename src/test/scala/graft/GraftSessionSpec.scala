package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("no session builder outside GraftSession and the two exempt mains") {
    // StatsProbe must run without the extension; CommitWorker is the
    // minimal child JVM of CrossJvmCommitSpec
    val allowed = Set("GraftSession.scala", "StatsProbe.scala", "CommitWorker.scala")
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: $r"))
    val offenders = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter { p =>
      !allowed(p.getFileName.toString) && Files.readString(p).contains(needle)
    }
    assert(offenders.isEmpty,
      s"build the session with GraftSession.builder instead: ${offenders.mkString(", ")}")
  }
}
