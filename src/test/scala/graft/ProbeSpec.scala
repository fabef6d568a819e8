package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the dev probe compiling and correct: each mode runs once at small
  * N on the shared session. Every mode `require`s its own invariants (oracle
  * agreement, MST exactness, the corpus scale bounds), so a clean return is
  * the assertion; the session must survive each mode.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("graph: both max-flow layouts equal Edmonds-Karp, Borůvka equals Kruskal") {
    Probe.graph(spark, 2000)
    assert(!spark.sparkContext.isStopped)
  }

  test("corpus: the dedup/pipeline battery holds its scale invariants") {
    val out = java.nio.file.Files.createTempDirectory("probe-corpus")
    try {
      Probe.corpus(spark, 10000, out.toString)
      assert(Tables.load(spark, s"$out/sf10000", "documents").count() == 10000L)
      assert(!spark.sparkContext.isStopped)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }
  }

  test("queries: named SparkEntry queries materialize, with their plans") {
    val sfDir = java.nio.file.Files.createTempDirectory("probe-queries")
    try {
      import spark.implicits._
      spark.range(0L, 1000L).map(Probe.docFor(_, 7L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$sfDir/documents.parquet")
      Probe.queries(spark, sfDir.toString, Seq("ta_df", "ds_pack"), plan = true)
      assert(!spark.sparkContext.isStopped)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(sfDir.toFile)
    }
  }
}
