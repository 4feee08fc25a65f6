package perfbench

/** Seeded origin-destination pairs over a generated network: short local
  * hops (at most four lattice steps) and trips to anywhere in the graph,
  * half each. No traffic data fixes that split, so it is even. Origins are
  * drawn uniformly over the nodes that have a road, the disconnected
  * island's among them, so island pairs come up as often as its share of
  * the nodes. Coordinates are jittered by up to ~15 m around their node.
  */
object Requests {
  final case class Pair(lat1: Double, lon1: Double, lat2: Double, lon2: Double)

  /** A node that still has a road, drawn by `draw` until one does. */
  private def usedNode(net: RoadGen.Network)(draw: => Int): Int = {
    var i = draw
    while (!net.used(i)) i = draw
    i
  }

  def node(net: RoadGen.Network, rnd: scala.util.Random): Int = usedNode(net)(rnd.nextInt(net.size))

  private def near(net: RoadGen.Network, rnd: scala.util.Random, i: Int): Int = {
    val nMain = net.cols * net.rows
    usedNode(net) {
      if (i >= nMain) nMain + rnd.nextInt(net.size - nMain)
      else {
        val r = i / net.cols; val c = i % net.cols
        def clamp(x: Int, hi: Int) = math.max(0, math.min(hi - 1, x))
        net.at(clamp(r + rnd.nextInt(9) - 4, net.rows), clamp(c + rnd.nextInt(9) - 4, net.cols))
      }
    }
  }

  private def jitter(rnd: scala.util.Random): Double = (rnd.nextDouble() - 0.5) * 0.0003

  def pair(net: RoadGen.Network, rnd: scala.util.Random): Pair = {
    val a = node(net, rnd)
    val b = if (rnd.nextBoolean()) near(net, rnd, a) else node(net, rnd)
    Pair(net.lat(a) + jitter(rnd), net.lon(a) + jitter(rnd),
      net.lat(b) + jitter(rnd), net.lon(b) + jitter(rnd))
  }
}
