package perfbench

import graft.geo.Geo
import graft.graph.{OsmPbf, OsmPbfWriter, SpeedModel}

/** Seeded synthetic road network, written as an OSM PBF through the
  * program's own `OsmPbfWriter` or handed over as node and edge tables.
  *
  * The main component is a jittered lattice of intersections about 100 m
  * apart. Every lattice row and column is a street whose class follows its
  * index (trunk, primary, secondary, tertiary, residential), with service
  * and living-street segments scattered among the residential ones. Some
  * residential rows and columns are one-way, and a seeded share of the
  * minor segments is removed. A small lattice about 2 km south of the main
  * one is a disconnected island: a route between the island and the main
  * component has no path, so the correct answer there is NULL.
  */
object RoadGen {

  /** `tileCells` > 0 makes district borders of a tiles-per-axis grid:
    * only arterials cross them, as in real networks where a few main roads
    * cross rivers and rail lines. A full lattice cut into tiles is the
    * worst case for a tile overlay, which no real road network is.
    */
  final case class Spec(cols: Int, rows: Int, tileCells: Int = 0)

  final val IslandSide = 6
  final val RemovedShare = 0.08

  /** One road segment between nodes `a` and `b` (indices). */
  final case class Seg(cls: String, a: Int, b: Int, oneway: Boolean)

  /** Node coordinates of a generated network, which nodes have a road
    * left, and its road segments. Index i holds OSM node id i + 1; the
    * island's nodes follow the lattice's. Coordinates are exactly the
    * values a PBF reader decodes.
    */
  final case class Network(lat: Array[Double], lon: Array[Double], used: Array[Boolean],
                           cols: Int, rows: Int, segs: Seq[Seg]) {
    def size: Int = lat.length
    /** Main-component lattice node at (row, col). */
    def at(r: Int, c: Int): Int = r * cols + c

    /** Write the network as an OSM PBF, one way per segment. */
    def writePbf(path: String): Unit = {
      val nodes = (0 until size).map(i => OsmPbf.OsmNode(i + 1L, lat(i), lon(i)))
      val ways = segs.zipWithIndex.map { case (g, w) =>
        val tags = if (g.oneway) Map("highway" -> g.cls, "oneway" -> "yes") else Map("highway" -> g.cls)
        (w + 1L, tags, Seq(g.a + 1L, g.b + 1L))
      }
      OsmPbfWriter.write(path, nodes, ways)
    }

    /** Directed edges (src, dst, metres, ms) for `mode`, weighted the way
      * the program's graph build weights them: haversine length over the
      * mode's speed for the road class, rounded down to whole ms.
      */
    def edges(mode: String): Seq[(Int, Int, Double, Long)] = segs.flatMap { g =>
      SpeedModel.speedKmh(g.cls, mode).toSeq.flatMap { kmh =>
        val m = Geo.haversineM(lat(g.a), lon(g.a), lat(g.b), lon(g.b))
        val ms = math.floor(m / 1000.0 / kmh * 3600.0 * 1000.0).toLong
        if (ms <= 0) Nil
        else if (g.oneway) Seq((g.a, g.b, m, ms))
        else Seq((g.a, g.b, m, ms), (g.b, g.a, m, ms))
      }
    }
  }

  final val Lat0 = 43.70
  final val Lon0 = 7.35
  final val DLat = 0.0009   // ~100 m
  final val DLon = 0.00125  // ~100 m at 43.7 N

  private val Arterials = Set("trunk", "primary", "secondary")

  private def classOf(i: Int): String =
    if (i % 32 == 0) "trunk"
    else if (i % 16 == 0) "primary"
    else if (i % 8 == 0) "secondary"
    else if (i % 4 == 0) "tertiary"
    else "residential"

  def generate(seed: Long, spec: Spec): Network = {
    val rnd = new scala.util.Random(seed)
    val nMain = spec.cols * spec.rows
    val nIsland = IslandSide * IslandSide
    val n = nMain + nIsland
    val lat = new Array[Double](n); val lon = new Array[Double](n)
    for (r <- 0 until spec.rows; c <- 0 until spec.cols) {
      val i = r * spec.cols + c
      lat(i) = Lat0 + r * DLat + (rnd.nextDouble() - 0.5) * 0.4 * DLat
      lon(i) = Lon0 + c * DLon + (rnd.nextDouble() - 0.5) * 0.4 * DLon
    }
    val islandLat0 = Lat0 - 0.02 - IslandSide * DLat
    for (r <- 0 until IslandSide; c <- 0 until IslandSide) {
      val i = nMain + r * IslandSide + c
      lat(i) = islandLat0 + r * DLat + (rnd.nextDouble() - 0.5) * 0.4 * DLat
      lon(i) = Lon0 + c * DLon + (rnd.nextDouble() - 0.5) * 0.4 * DLon
    }

    // quantize to the PBF's 100-nanodegree grid, exactly as it decodes
    def q(x: Double): Double = 1e-9 * (100L * (math.round(x * 1e9) / 100))
    for (i <- 0 until n) { lat(i) = q(lat(i)); lon(i) = q(lon(i)) }

    val segs = scala.collection.mutable.ArrayBuffer.empty[Seg]
    def minorClass(base: String): String =
      if (base != "residential") base
      else {
        val x = rnd.nextDouble()
        if (x < 0.05) "service" else if (x < 0.08) "living_street" else base
      }
    def segment(lineIdx: Int, a: Int, b: Int, oneway: Int): Unit = {
      val cls = minorClass(classOf(lineIdx))
      val minor = !Arterials(cls)
      if (!(minor && rnd.nextDouble() < RemovedShare)) {
        if (minor && oneway != 0) {
          val (x, y) = if (oneway > 0) (a, b) else (b, a)
          segs += Seg(cls, x, y, oneway = true)
        } else segs += Seg(cls, a, b, oneway = false)
      }
    }
    // rows run west-east: every 6th residential row is one-way eastbound,
    // its neighbour two rows up westbound; columns likewise north/south
    def onewayOf(i: Int): Int = if (i % 6 == 2) 1 else if (i % 6 == 4) -1 else 0
    for (r <- 0 until spec.rows; c <- 0 until spec.cols - 1)
      segment(r, r * spec.cols + c, r * spec.cols + c + 1, onewayOf(r))
    for (c <- 0 until spec.cols; r <- 0 until spec.rows - 1)
      segment(c, r * spec.cols + c, (r + 1) * spec.cols + c, onewayOf(c + 3))
    val s = IslandSide
    for (r <- 0 until s; c <- 0 until s) {
      val i = nMain + r * s + c
      if (c < s - 1) segs += Seg("residential", i, i + 1, oneway = false)
      if (r < s - 1) segs += Seg("residential", i, i + s, oneway = false)
    }

    def usedOf(ss: Iterable[Seg]): Array[Boolean] = {
      val u = new Array[Boolean](n)
      ss.foreach { g => u(g.a) = true; u(g.b) = true }
      u
    }
    // district borders on the tile grid: only arterials cross them. The
    // grid is the one Tiled.build derives from the bounding box of the
    // nodes that keep a road, so drop crossings until that box is stable.
    var kept: Iterable[Seg] = segs
    if (spec.tileCells > 0) {
      var box = Seq.empty[Double]
      var stable = false
      while (!stable) {
        val u = usedOf(kept)
        val ids = (0 until n).filter(u)
        val next = Seq(ids.map(lat).min, ids.map(lat).max, ids.map(lon).min, ids.map(lon).max)
        stable = next == box
        box = next
        val Seq(minLat, maxLat, minLon, maxLon) = box
        val k = spec.tileCells
        val cellLat = math.max(1e-9, (maxLat - minLat) / k)
        val cellLon = math.max(1e-9, (maxLon - minLon) / k)
        def tile(i: Int): Int = {
          val ti = math.min(k - 1, math.max(0, math.floor((lat(i) - minLat) / cellLat).toInt))
          val tj = math.min(k - 1, math.max(0, math.floor((lon(i) - minLon) / cellLon).toInt))
          ti * k + tj
        }
        kept = kept.filter(g => Arterials(g.cls) || tile(g.a) == tile(g.b))
      }
    }

    Network(lat, lon, usedOf(kept), spec.cols, spec.rows, kept.toSeq)
  }
}
