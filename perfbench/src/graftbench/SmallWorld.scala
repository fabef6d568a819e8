package graftbench

/** The benchmark's own small-world max-flow instance, so that no change to
  * the program's probes can change the workload.
  *
  * Watts–Strogatz style: ring position i links to its k clockwise
  * neighbours; each link is rewired to a uniform random vertex with
  * probability `rewireP` and becomes two opposite arcs of one capacity in
  * 1..maxCap. Vertex ids start at 10, since the engines reserve 0–2. The
  * arcs of position i are a pure function of (i, seed), so the executors
  * and the driver build the same graph without shipping it.
  */
object SmallWorld {

  case class Spec(n: Int, k: Int = 4, rewireP: Double = 0.1, maxCap: Int = 10,
                  terminals: Int = 8)

  def arcsFor(i: Long, spec: Spec, seed: Long): Seq[(Long, Long, Long)] = {
    val rng = new scala.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))
    (1 to spec.k).flatMap { j =>
      val a = 10L + i
      val b = if (rng.nextDouble() < spec.rewireP) 10L + rng.nextInt(spec.n)
              else 10L + (i + j) % spec.n
      if (a == b) Nil
      else {
        val c = 1L + rng.nextInt(spec.maxCap)
        Seq((a, b, c), (b, a, c))
      }
    }
  }

  def arcs(spec: Spec, seed: Long): Seq[(Long, Long, Long)] =
    (0L until spec.n.toLong).flatMap(arcsFor(_, spec, seed))

  /** Seeded pick of up to `spec.terminals` sources and as many sinks,
    * disjoint from the sources. */
  def terminals(spec: Spec, seed: Long): (Seq[Long], Seq[Long]) = {
    val rng = new scala.util.Random(seed * 31L + 13L)
    def pick(): Long = 10L + rng.nextInt(spec.n)
    val sources = Seq.fill(spec.terminals)(pick()).distinct
    val sinks = Seq.fill(spec.terminals)(pick()).distinct.filterNot(sources.contains)
    (sources, sinks)
  }
}
