package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.{Kind, Op, RawElement, RawMember}
import graft.sources.OsmPbfSynth

/** Seeded synthetic city tile in OSM's data model, plus the rows the
  * benchmark mapping (perfbench/mapping.yml) must turn it into.
  *
  * The tile is an `n`×`n` block street grid. Streets share their
  * intersection nodes and are split into ways of four blocks. Each block
  * holds buildings (some with addresses), a landuse area, a park
  * multipolygon relation with an inner ring, or a fenced yard; POIs are
  * scattered over the blocks. A river crosses the tile, an
  * admin-boundary relation rings it with four ways, and bus-route
  * relations follow every fourth street with its intersections as stops.
  */
object CityGen {
  final case class Tile(elements: Seq[RawElement], expected: Map[String, Seq[String]])

  /** Key columns the import check compares per table (see mapping.yml). */
  val keyColumns: Map[String, Seq[String]] = Map(
    "route_members" -> Seq("osm_id", "member_id", "member_index")
  ).withDefaultValue(Seq("osm_id", "type"))

  val Tables: Seq[String] = Seq("pois", "lines", "areas", "routes", "route_members", "areas_gen0")

  private val Lon0 = 7.40
  private val Lat0 = 43.70
  private val BlockLon = 0.0012
  private val BlockLat = 0.0009

  /** Degrees on the PBF coordinate grid (100 nanodegrees), computed as the
    * PBF decoder computes them, so encode/decode and the XML change files
    * reproduce the same double. */
  def gridDeg(units: Long): Double = 1e-9 * (100L * units)
  def toUnits(deg: Double): Long = math.round(deg * 1e7)

  def tile(seed: Long, n: Int): Tile = {
    val rnd = new SplittableRandom(seed)
    val nodes = mutable.ArrayBuffer.empty[RawElement]
    val ways = mutable.ArrayBuffer.empty[RawElement]
    val rels = mutable.ArrayBuffer.empty[RawElement]
    val exp = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    def expect(t: String, key: String): Unit =
      exp.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += key
    var nodeId = 0L
    var wayId = 0L
    var relId = 0L
    def node(lon: Double, lat: Double, tags: Map[String, String] = Map.empty): Long = {
      nodeId += 1
      nodes += RawElement(Kind.Node, nodeId, Some(gridDeg(toUnits(lon))),
        Some(gridDeg(toUnits(lat))), tags, Nil, Nil, Op.Create)
      nodeId
    }
    def way(refs: Seq[Long], tags: Map[String, String]): Long = {
      wayId += 1
      ways += RawElement(Kind.Way, wayId, None, None, tags, refs, Nil, Op.Create)
      wayId
    }
    def rel(members: Seq[RawMember], tags: Map[String, String]): Long = {
      relId += 1
      rels += RawElement(Kind.Relation, relId, None, None, tags, Nil, members, Op.Create)
      relId
    }
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def lonOf(x: Double) = Lon0 + x * BlockLon
    def latOf(y: Double) = Lat0 + y * BlockLat
    def ring(x0: Double, y0: Double, x1: Double, y1: Double): Seq[Long] = {
      val a = node(lonOf(x0), latOf(y0))
      Seq(a, node(lonOf(x1), latOf(y0)), node(lonOf(x1), latOf(y1)),
        node(lonOf(x0), latOf(y1)), a)
    }

    // intersections, shared by the crossing streets
    val ix = Array.tabulate(n + 1, n + 1)((i, j) => node(lonOf(i), latOf(j)))
    def highwayOf(k: Int) = if (k % 4 == 0) "primary" else if (k % 4 == 2) "secondary" else "residential"
    val rowWays = mutable.Map.empty[Int, Seq[Long]]
    for (horizontal <- Seq(true, false); k <- 0 to n) {
      val name = if (horizontal) s"Row $k Street" else s"Column $k Avenue"
      val hw = highwayOf(k)
      val segs = (0 until n by 4).map { s0 =>
        val s1 = math.min(s0 + 4, n)
        val refs = (s0 until s1).flatMap { s =>
          val (a, mid) =
            if (horizontal) (ix(s)(k), node(lonOf(s + 0.5), latOf(k + 0.02 * rnd.nextInt(3))))
            else (ix(k)(s), node(lonOf(k + 0.02 * rnd.nextInt(3)), latOf(s + 0.5)))
          Seq(a, mid)
        } :+ (if (horizontal) ix(s1)(k) else ix(k)(s1))
        val w = way(refs, Map("highway" -> hw, "name" -> name))
        expect("lines", s"$w|$hw")
        w
      }
      if (horizontal) rowWays(k) = segs
    }

    val pois = Seq("amenity" -> "cafe", "amenity" -> "restaurant", "amenity" -> "school",
      "amenity" -> "pharmacy", "shop" -> "bakery", "shop" -> "supermarket")
    for (i <- 0 until n; j <- 0 until n) {
      val r = rnd.nextDouble()
      if (r < 0.55) {
        for (bx <- 0 until 2; by <- 0 until 2) {
          val x0 = i + 0.1 + 0.42 * bx
          val y0 = j + 0.1 + 0.42 * by
          val bt = pick(Seq("yes", "house", "apartments", "retail"))
          val addr =
            if (rnd.nextDouble() < 0.4)
              Map("addr:housenumber" -> s"${1 + rnd.nextInt(200)}", "addr:street" -> s"Row $j Street")
            else Map.empty[String, String]
          val w = way(ring(x0, y0, x0 + 0.36, y0 + 0.36), Map("building" -> bt) ++ addr)
          expect("areas", s"$w|$bt")
        }
      } else if (r < 0.70) {
        val lu = pick(Seq("residential", "grass", "industrial", "forest"))
        val w = way(ring(i + 0.08, j + 0.08, i + 0.92, j + 0.92),
          Map("landuse" -> lu, "name" -> s"Area $i-$j"))
        expect("areas", s"$w|$lu")
        if (lu == "industrial" || lu == "forest") expect("areas_gen0", s"$w|$lu")
      } else if (r < 0.80) {
        val outer = way(ring(i + 0.06, j + 0.06, i + 0.94, j + 0.94), Map.empty)
        val inner = way(ring(i + 0.35, j + 0.35, i + 0.65, j + 0.65), Map.empty)
        val rid = rel(Seq(RawMember(outer, 1, "outer"), RawMember(inner, 1, "inner")),
          Map("type" -> "multipolygon", "leisure" -> "park", "name" -> s"Park $i-$j"))
        expect("areas", s"${-rid}|park")
        expect("areas_gen0", s"${-rid}|park")
      } else if (r < 0.90) {
        val refs = Seq(node(lonOf(i + 0.15), latOf(j + 0.85)), node(lonOf(i + 0.15), latOf(j + 0.15)),
          node(lonOf(i + 0.85), latOf(j + 0.15)), node(lonOf(i + 0.85), latOf(j + 0.85)))
        val w = way(refs, Map("barrier" -> "fence"))
        expect("lines", s"$w|fence")
      }
      if (rnd.nextDouble() < 0.35) {
        val (k, v) = pick(pois)
        val id = node(lonOf(i + 0.05 + 0.9 * rnd.nextDouble()), latOf(j + 0.03),
          Map(k -> v, "name" -> s"POI $i-$j"))
        expect("pois", s"$id|$v")
      }
    }

    // a river crossing the tile, on nodes of its own
    val river = way((0 to 2 * n).map(s => node(lonOf(s * 0.5 + 0.13), latOf(0.3 + s * 0.47))),
      Map("waterway" -> "river", "name" -> "River"))
    expect("lines", s"$river|river")

    // admin boundary: one ring of four ways around the grid
    val m = -0.3
    val M = n + 0.3
    val corners = Seq((m, m), (M, m), (M, M), (m, M)).map { case (x, y) => node(lonOf(x), latOf(y)) }
    val sides = (0 until 4).map { s =>
      val (a, b) = (corners(s), corners((s + 1) % 4))
      val mids = (1 until n / 2).map { t =>
        val f = t.toDouble / (n / 2)
        val (x, y) = s match {
          case 0 => (m + f * (M - m), m)
          case 1 => (M, m + f * (M - m))
          case 2 => (M - f * (M - m), M)
          case _ => (m, M - f * (M - m))
        }
        node(lonOf(x), latOf(y))
      }
      way((a +: mids) :+ b, Map.empty)
    }
    val admin = rel(sides.map(w => RawMember(w, 1, "outer")),
      Map("type" -> "boundary", "boundary" -> "administrative", "admin_level" -> "8",
        "name" -> "Synthtown"))
    expect("areas", s"${-admin}|administrative")

    // bus routes along every fourth row, stopping at its intersections
    for (k <- 0 to n by 4) {
      val members = rowWays(k).map(w => RawMember(w, 1, "")) ++
        (0 to n by 2).map(s => RawMember(ix(s)(k), 0, "stop"))
      val rid = rel(members, Map("type" -> "route", "route" -> "bus",
        "ref" -> s"${k / 4 + 1}", "name" -> s"Bus ${k / 4 + 1}"))
      expect("routes", s"${-rid}|bus")
      members.zipWithIndex.foreach { case (mb, idx) =>
        expect("route_members", s"${-rid}|${mb.id}|$idx")
      }
    }

    Tile((nodes ++ ways ++ rels).toSeq, exp.view.mapValues(_.toSeq).toMap)
  }

  /** The tile as written to PBF and read back, i.e. the elements the
    * pipeline sees. */
  def encodeTile(t: Tile): Array[Byte] = OsmPbfSynth.encodePbf(t.elements)
}
