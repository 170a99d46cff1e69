package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared plumbing: one session builder, one query-subset
  * parser. */
class MainsSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("SparkSession.builder and the bypass-writer conf live in " +
    "GraftSession.scala only") {
    for (needle <- Seq("SparkSession.builder", "bypassMergeThreshold")) {
      val hits = mainSources.filter(p => Files.readString(p).contains(needle))
        .map(_.getFileName.toString)
      assert(hits == Seq("GraftSession.scala"), s"$needle in: $hits")
    }
  }

  test("SPARK_GRAFT_ONLY: unset selects every query, a list its subset") {
    assert(SparkEntry.selected(None).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.selected(Some(" q_scan_entries, q_breadcrumb ,"))
      .keySet == Set("q_scan_entries", "q_breadcrumb"))
  }

  test("SPARK_GRAFT_ONLY: an unknown name fails, naming it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selected(Some("q_breadcrumb,q_no_such_row"))
    }
    assert(e.getMessage.contains("q_no_such_row"))
    assert(!e.getMessage.contains("q_breadcrumb"))
  }
}
