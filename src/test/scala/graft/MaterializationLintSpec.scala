package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** One materialization mechanism: every frame in `src/main/scala` is
  * pinned through `Caches.pin` / `Caches.track` and freed through
  * `Caches.release`, which is what makes `Caches.releaseAll` complete.
  * This scans the program's code lines (comments excluded) for a direct
  * `.localCheckpoint(`, `.persist(`, `.cache(` or `.checkpoint(` call and
  * fails on any line the allowlist below does not name. The allowlist
  * must match exactly, so a removed exception cannot linger in it.
  */
class MaterializationLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val call = """\.(localCheckpoint|persist|cache|checkpoint)\(""".r
  private val roundPin =
    ".persist(StorageLevel.MEMORY_AND_DISK_SER).localCheckpoint()"

  /** (file under src/main/scala, trimmed code line, why it may pin). */
  private val allowed = Seq(
    ("graft/Caches.scala", "register(df.localCheckpoint(eager), viaTrack = false)",
      "Caches.pin is the one local checkpoint of a frame"),
    ("graft/Caches.scala", "register(df.persist(level), viaTrack = true)",
      "Caches.track is the one persist of a frame"),
    ("graft/graph/MaxFlow.scala", roundPin,
      "superstep's round merge: RDD state runLoop frees on its own schedule"),
    ("graft/graph/MaxFlow.scala", roundPin,
      "the distributed cleanup's state refresh: RDD state freed when replaced"))

  private def hits(): Seq[(String, Int, String)] =
    SourceScan.codeLines(root).filter { case (_, _, code) =>
      call.findFirstIn(code).isDefined
    }

  test("only Caches and MaxFlow's two RDD round pins materialize directly") {
    val found = hits()
    assert(found.nonEmpty, s"no scan hits under ${root.toAbsolutePath}")
    val key = found.map { case (f, _, code) => (f, code) }
    val expected = allowed.map { case (f, code, _) => (f, code) }
    val unexpected = key.diff(expected)
    if (unexpected.nonEmpty) fail(
      s"${unexpected.size} direct materialization site(s); pin with " +
        "Caches.pin / Caches.track and free with Caches.release:\n" +
        found.filter(h => unexpected.contains((h._1, h._3)))
          .map { case (f, n, code) => s"  $f:$n: $code" }.mkString("\n"))
    val stale = expected.diff(key)
    if (stale.nonEmpty) fail(s"allowlist names lines that no longer exist: $stale")
  }
}
