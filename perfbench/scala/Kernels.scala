package perfbench

import graft.algo.{BiDijkstra, ChQuery, Dijkstra}
import graft.geo.Wkb
import graft.graph.PreparedGraph

/** In-JVM replay of requests through the public kernel calls on a loaded
  * [[PreparedGraph]], with no Spark in between. Every call is timed into
  * `samples` (microseconds) and its time added to its layer's busy total.
  * One instance per thread: the search classes keep per-instance scratch.
  */
final class Kernels(g: PreparedGraph) {
  val samples = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  val layerUs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val chq = Option(g.ch).map(new ChQuery(_))
  private val dj = new Dijkstra(g)
  private val bi = new BiDijkstra(g)

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += v

  def timed[T](name: String, layer: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val us = (System.nanoTime() - t0) / 1e3
    add(name + "_us", us)
    layerUs(layer) += us
    r
  }

  def snap(lat: Double, lon: Double): Int = timed("snap", "graph")(g.snap(lat, lon))

  /** The `travel_time` kernel: two snaps and a CH (or bidirectional) query. */
  def travelTimeMs(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Long = {
    val s = snap(lat1, lon1); val t = snap(lat2, lon2)
    if (s < 0 || t < 0) -1L
    else chq match {
      case Some(q) => timed("ch_query", "algo")(q.shortestPathMs(s, t))
      case None => timed("bidijkstra", "algo")(bi.shortestPathMs(s, t))
    }
  }

  /** The route kernel: snaps, a path search, then WKB assembly. */
  def route(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Option[Array[Byte]] = {
    val s = snap(lat1, lon1); val t = snap(lat2, lon2)
    if (s < 0 || t < 0) None
    else timed("path", "algo")(dj.shortestPathWithNodes(s, t)).map { case (_, path) =>
      add("route_points", path.length.toDouble)
      timed("wkb", "geo") {
        dj.pathDistanceM(path)
        Wkb.writeLineString(path.map(i => (g.nodeLon(i), g.nodeLat(i))).toSeq)
      }
    }
  }

  def isochrone(lat: Double, lon: Double, seconds: Double): Int = {
    val s = snap(lat, lon)
    val n = if (s < 0) 0 else timed("isochrone", "algo")(
      dj.reachableWithin(s, (seconds * 1000).toLong)).length
    add("isochrone_nodes", n.toDouble)
    n
  }

  def oneToMany(s: Int, targets: Array[Int]): Array[(Long, Double)] =
    timed("one_to_many", "algo")(dj.oneToMany(s, targets))
}

object Kernels {
  final val Layers = Seq("algo", "graph", "geo")

  /** Replay one op's kernel work on `ks.size` threads (item i on thread
    * i mod n) and record it as a top-level `replay` span of that op: wall
    * time as the span, each layer's busy microseconds as attributes.
    */
  def replay[A](trace: Trace, op: Long, ks: Seq[Kernels], items: Seq[A])(f: (Kernels, A) => Unit): Unit = {
    val before = ks.map(k => Layers.map(k.layerUs))
    val s0 = Clock.us()
    if (ks.size == 1) items.foreach(f(ks.head, _))
    else {
      val threads = ks.indices.map { t =>
        new Thread(() => {
          var i = t
          while (i < items.size) { f(ks(t), items(i)); i += ks.size }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    val attrs = Layers.indices.map { l =>
      (Layers(l) + "_us") -> ks.indices.map(t => ks(t).layerUs(Layers(l)) - before(t)(l)).sum
    }.toMap
    trace.add(Span(trace.nextId(), 0L, "replay", "kernel", op, s0, Clock.us(), attrs))
  }

  /** Time a contraction-hierarchy build of `g` (built aside, not attached). */
  def chBuild(g: PreparedGraph, k: Kernels): Unit = {
    val t0 = System.nanoTime()
    val ch = graft.algo.ContractionHierarchy.build(g)
    k.add("ch_build_ms", (System.nanoTime() - t0) / 1e6)
    k.add("ch_shortcuts", ch.numShortcuts(g.numEdges).toDouble)
  }

  def json(m: Map[String, Seq[Double]]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.nums(v) }: _*)

  /** Merge per-thread samples. */
  def merge(ks: Iterable[Kernels]): Map[String, Seq[Double]] =
    ks.flatMap(_.samples.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).toSeq }

  /** Exact-oracle travel time (ms) between two graph nodes by bidirectional
    * Dijkstra; -1 when either is unsnapped or no path exists.
    */
  def oracleMs(bi: BiDijkstra, s: Int, t: Int): Long =
    if (s < 0 || t < 0) -1L else bi.shortestPathMs(s, t)
}
