package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class HarnessSpec extends SparkSuite {

  test("release frees every block a query pinned") {
    // label propagation both persists its edge frame and localCheckpoints
    // its rounds: both kinds must be gone after one release
    SparkEntry.queries("graph_label_propagation")(spark, sf).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the query pinned nothing, so this test proves nothing")
    Harness.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  private val mainRoot = Paths.get("src/main/scala")

  /** Lines of code (not comments) in each Scala file under `dir`. */
  private def codeLines(dir: Path): Seq[(Path, String)] =
    Files.walk(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sorted
      .flatMap(f => Files.readAllLines(f).asScala.map(l => (f, l.trim)))
      .filterNot { case (_, l) =>
        l.startsWith("//") || l.startsWith("*") || l.startsWith("/*") }

  test("only Harness builds a SparkSession") {
    val hits = codeLines(mainRoot).collect {
      case (f, l) if l.contains("SparkSession.builder") => f.toString }
    assert(hits == Seq("src/main/scala/graft/Harness.scala"), hits)
  }

  test("operators, api, functions and streaming read no environment") {
    val hits = Seq("operators", "api", "functions", "streaming")
      .flatMap(d => codeLines(mainRoot.resolve("graft").resolve(d)))
      .collect { case (f, l)
        if l.contains("sys.env") || l.contains("getenv") => s"$f: $l" }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
