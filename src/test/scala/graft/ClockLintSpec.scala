package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** One event-time clock: in `src/main/scala/graft/streaming`, only
  * `EventClock.scala` reads the watermark, arms a timeout, handles a
  * timed-out key, quiesces a key or defines the time units, and no
  * tracker keeps its own quiesce, buffered-exact, carried-state or
  * timestamp-conversion copy. This scans the package's code lines
  * (comments excluded) and fails on any line outside `EventClock.scala`
  * that contains one of the tokens below, unless `allowed` lists that
  * token for that file, with a count per token.
  */
class ClockLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft/streaming")
  private val clock = "EventClock.scala"
  private val tokens = Seq("setTimeoutTimestamp(", "getCurrentWatermarkMs(",
    "def armTimeout", "def stateFnExact", "def tsToUs", "val DayUs",
    "val DayMs", ".hasTimedOut", "state.remove()", "quiesce(")

  /** Tokens a file other than `EventClock.scala` may use, and why. */
  private val allowed: Map[String, Set[String]] = Map(
    // a session closes 30 minutes after its last event, not at the
    // quiesce horizon of EventClock.carried: the sessionizer handles its
    // own timed-out key (it still arms through EventClock.arm)
    "EventSessionizer.scala" -> Set(".hasTimedOut", "state.remove()"))

  test("only EventClock reads the watermark, arms timeouts and defines " +
      "the time units of the streaming twins") {
    val lines = SourceScan.codeLines(root)
    val found = for {
      (f, n, code) <- lines if f != clock
      t <- tokens
      if code.contains(t) && !allowed.getOrElse(f, Set.empty[String])(t)
    } yield (t, s"  $f:$n: $code")
    if (found.nonEmpty) fail(
      tokens.map(t => s"$t ${found.count(_._1 == t)}").mkString(" / ") +
        " code line(s) outside " + clock + ":\n" +
        found.map(_._2).distinct.mkString("\n"))
    assert(lines.exists { case (f, _, code) =>
      f == clock && code.contains("setTimeoutTimestamp(")
    }, s"the scan did not see $clock under ${root.toAbsolutePath}")
  }
}
