package perfbench

import graft.algo.{BiDijkstra, Dijkstra}
import graft.geo.{Geo, Wkb}
import graft.graph.PreparedGraph
import org.apache.spark.sql.Row

/** Point requests of `sql_routing`: a closed loop sending one-row SQL
  * statements over the routing functions, each after the previous
  * answer. Every answer is checked against an exact in-JVM oracle on the
  * loaded graph.
  */
object PointSql {

  /** One request: its statement, the check of its single result row (null
    * when correct, else the cause), and its kernel replay.
    */
  final case class Req(kind: String, sql: String, pairs: Int,
                       check: Row => String, replay: Kernels => Unit)

  final val PoolSize = 400
  /** Statement kinds in a fixed cycle, one of each: travel_time, route,
    * snap, isochrone, request. No traffic share is known for them, so each
    * kind gets the same; a fixed cycle keeps the mix the same in every
    * run, whatever the seed.
    */
  final val Mix = "trsiq"
  final val FirstIsoSeconds = 120.0

  private def d(x: Double): String = s"${x}D"
  private def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  private def expectMs(kind: String, ms: Long, got: Option[Long]): String = got match {
    case None if ms < 0 => null
    case Some(v) if v == ms => null
    case _ => s"$kind: expected ${if (ms < 0) "NULL" else ms + " ms"}, got ${got.fold("NULL")(_ + " ms")}"
  }

  /** Snap oracle: brute-force nearest indexed node; the answer must be as
    * near as it (ties may pick either node).
    */
  private def nearestM(g: PreparedGraph, lat: Double, lon: Double): Double = {
    val ix = g.snapIndex
    var best = Double.MaxValue
    var i = 0
    while (i < ix.pointIds.length) {
      best = math.min(best, Geo.haversineM(lat, lon, ix.lats(i), ix.lons(i)))
      i += 1
    }
    if (best > PreparedGraph.SnapCutoffM) -1.0 else best
  }

  def travelTime(g: PreparedGraph, bi: BiDijkstra, p: Requests.Pair): Req = {
    val ms = Kernels.oracleMs(bi, g.snap(p.lat1, p.lon1), g.snap(p.lat2, p.lon2))
    Req("travel_time",
      s"SELECT travel_time(${d(p.lat1)}, ${d(p.lon1)}, ${d(p.lat2)}, ${d(p.lon2)}, 'auto')", 1,
      r => expectMs("travel_time", ms,
        if (r.isNullAt(0)) None else Some(math.round(r.getDouble(0) * 1000))),
      k => k.travelTimeMs(p.lat1, p.lon1, p.lat2, p.lon2): Unit)
  }

  /** `size` requests, their kinds cycling through [[Mix]]. */
  def pool(net: RoadGen.Network, g: PreparedGraph, seed: Long, size: Int): IndexedSeq[Req] = {
    val rnd = new scala.util.Random(seed * 7919 + 17)
    val bi = new BiDijkstra(g); val dj = new Dijkstra(g)
    (0 until size).map(k => request(Mix(k % Mix.length), Requests.pair(net, rnd), 60.0 + rnd.nextInt(90), g, bi, dj))
  }

  /** One request of `kind` between the ends of `p`; an isochrone spans `sec`. */
  def request(kind: Char, p: Requests.Pair, sec: Double, g: PreparedGraph, bi: BiDijkstra, dj: Dijkstra): Req = {
    val s = g.snap(p.lat1, p.lon1); val t = g.snap(p.lat2, p.lon2)
    lazy val ms = Kernels.oracleMs(bi, s, t)
    if (kind == 't') travelTime(g, bi, p)
    else if (kind == 'r') {
      val a = Wkb.writePoint(p.lon1, p.lat1); val b = Wkb.writePoint(p.lon2, p.lat2)
      val want = ms
      Req("travel_time_route_wkb",
        s"SELECT travel_time_route_wkb(X'${hex(a)}', X'${hex(b)}', 'auto')", 1,
        r => if (r.isNullAt(0)) expectMs("route", want, None)
        else {
          val route = r.getStruct(0)
          val c = expectMs("route", want, Some(math.round(route.getDouble(1) * 60000)))
          if (c != null) c
          else {
            val pts = Wkb.readLineString(route.getAs[Array[Byte]](2)).getOrElse(Array.empty)
            val ends = pts.nonEmpty && pts.head == ((g.nodeLon(s), g.nodeLat(s))) &&
              pts.last == ((g.nodeLon(t), g.nodeLat(t)))
            if (ends) null else "route: geometry does not join the snapped endpoints"
          }
        },
        k => k.route(p.lat1, p.lon1, p.lat2, p.lon2): Unit)
    } else if (kind == 's') {
      val want = nearestM(g, p.lat1, p.lon1)
      Req("travel_time_snap",
        s"SELECT travel_time_snap(${d(p.lat1)}, ${d(p.lon1)}, 'auto')", 0,
        r => if (r.isNullAt(0)) { if (want < 0) null else "snap: got NULL" }
        else {
          val got = r.getStruct(0).getDouble(2)
          if (want >= 0 && got <= want * (1 + 1e-6) + 1e-6) null
          else s"snap: nearest node is $want m away, got $got m"
        },
        k => k.snap(p.lat1, p.lon1): Unit)
    } else if (kind == 'i') {
      val want = if (s < 0) 0 else dj.reachableWithin(s, (sec * 1000).toLong).length
      Req("travel_time_isochrone",
        s"SELECT travel_time_isochrone(${d(p.lat1)}, ${d(p.lon1)}, ${d(sec)}, 'auto')", 0,
        r => {
          val got = if (r.isNullAt(0)) 0 else r.getSeq[Row](0).size
          if (got == want) null else s"isochrone: expected $want nodes, got $got"
        },
        k => k.isochrone(p.lat1, p.lon1, sec): Unit)
    } else {
      val want = ms
      val json = s"""{"locations":[{"lat":${p.lat1},"lon":${p.lon1}},""" +
        s"""{"lat":${p.lat2},"lon":${p.lon2}}],"costing":"auto"}"""
      Req("travel_time_request",
        s"SELECT travel_time_request('route', '$json')", 1,
        r => {
          val body = r.getString(0)
          val time = "\"summary\":\\{\"length\":[^,]+,\"time\":([-0-9.Ee+]+)".r
            .findFirstMatchIn(body).map(m => math.round(m.group(1).toDouble * 1000))
          if (time.isEmpty && !body.contains("\"error\"")) s"request: unparsable response $body"
          else expectMs("request", want, time)
        },
        k => k.route(p.lat1, p.lon1, p.lat2, p.lon2): Unit)
    }
  }

  def exec(ctx: Ctx, runner: OpRunner, req: Req): OpRec =
    runner.run(req.kind, req) { op =>
      val rows = runner.collect(ctx.spark.sql(req.sql), op)
      (req.pairs, () => if (rows.length != 1) s"${req.kind}: ${rows.length} rows" else req.check(rows(0)))
    }

  /** One client: with more, requests queue behind each other's planning
    * and tasks, and runs of one seed differed twice as much. Continues
    * through the pool where the runner's previous slice stopped.
    */
  def loop(ctx: Ctx, runner: OpRunner, pool: IndexedSeq[Req], seconds: Double): Double = {
    val from = runner.ops.size
    ClosedLoop.run(seconds)(k => exec(ctx, runner, pool((from + k) % pool.size)): Unit)
  }

  /** The first point requests after a load: one statement of each kind,
    * each the first of its kind in the JVM, all across the whole graph
    * between opposite corners. Until compiled, the kernels run slowly
    * enough that a short hop among them would change the total.
    */
  def firsts(ctx: Ctx, l: SqlRouting.Loaded): Seq[OpRec] = {
    val net = l.net
    val main = (0 until net.rows * net.cols).filter(net.used)
    val (a, b) = (main.head, main.last)
    val p = Requests.Pair(net.lat(a), net.lon(a), net.lat(b), net.lon(b))
    val (bi, dj) = (new BiDijkstra(l.graph), new Dijkstra(l.graph))
    val runner = new OpRunner(ctx.spark, None)
    Mix.map(kind => exec(ctx, runner, request(kind, p, FirstIsoSeconds, l.graph, bi, dj)))
  }

  /** The traced requests replayed through the kernels. */
  def replay(t: Trace, traced: OpRunner, g: PreparedGraph): Kernels = {
    val k = new Kernels(g)
    traced.kernelOps.forEach { case (op, r) =>
      Kernels.replay(t, op, Seq(k), Seq(r.asInstanceOf[Req]))((kk, rr) => rr.replay(kk))
    }
    k
  }
}
