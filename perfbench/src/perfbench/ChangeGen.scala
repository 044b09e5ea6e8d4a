package perfbench

import java.io.{File, OutputStreamWriter}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import graft.model.{Kind, Op, RawElement, RawMember}

/** Element state of a synthesized extract and a seeded writer of
  * minutely-sized `osmChange` files against it.
  *
  * Each file carries about `changes` element changes in a fixed mix:
  * node moves (40%), POI creates, renames and deletes (8/4/5%), street and
  * building retags (18%), building creates and deletes with their four
  * nodes (8/5% of elements), route and park relation edits (6%), route
  * creates (3%) and route or park deletes (3%). No element changes twice
  * in one file. The state
  * is updated as each file is written, so `elements` is always the state
  * the applied files lead to.
  */
final class ChangeGen(initial: Seq[RawElement], seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val nodes = mutable.LongMap.empty[RawElement]
  private val ways = mutable.LongMap.empty[RawElement]
  private val rels = mutable.LongMap.empty[RawElement]
  initial.foreach { e =>
    e.kind match {
      case Kind.Node => nodes(e.id) = e
      case Kind.Way => ways(e.id) = e
      case _ => rels(e.id) = e
    }
  }
  // candidate pools; entries may go stale and are re-checked on use
  private val movable = mutable.ArrayBuffer.from(ways.valuesIterator.flatMap(_.refs).toSet.toSeq.sorted)
  private val pois = mutable.ArrayBuffer.from(
    nodes.valuesIterator.filter(_.tags.nonEmpty).map(_.id).toSeq.sorted)
  private val buildings = mutable.ArrayBuffer.from(
    ways.valuesIterator.filter(_.tags.contains("building")).map(_.id).toSeq.sorted)
  private val streets = ways.valuesIterator.filter(_.tags.contains("highway")).map(_.id).toSeq.sorted.toVector
  private val routesAndParks = mutable.ArrayBuffer.from(
    rels.valuesIterator.filter(r => r.tags.get("route").contains("bus") ||
      r.tags.get("leisure").contains("park")).map(_.id).toSeq.sorted)
  private val (minLon, maxLon, minLat, maxLat) = {
    val ls = nodes.valuesIterator.map(n => (n.lon.get, n.lat.get)).toSeq
    (ls.map(_._1).min, ls.map(_._1).max, ls.map(_._2).min, ls.map(_._2).max)
  }
  private var nextId = 1L << 45

  def elements: Seq[RawElement] =
    (nodes.values.toSeq.sortBy(_.id) ++ ways.values.toSeq.sortBy(_.id) ++
      rels.values.toSeq.sortBy(_.id)).map(_.copy(op = Op.Create))

  private def pickLive(pool: mutable.ArrayBuffer[Long], live: Long => Boolean,
      touched: mutable.Set[(Byte, Long)], kind: Byte): Option[Long] = {
    var tries = 0
    while (tries < 20 && pool.nonEmpty) {
      val i = rnd.nextInt(pool.size)
      val id = pool(i)
      if (!live(id)) { pool(i) = pool.last; pool.remove(pool.size - 1) }
      else if (!touched((kind, id))) return Some(id)
      tries += 1
    }
    None
  }

  private def fresh(): Long = { nextId += 1; nextId }
  private def randLon = CityGen.gridDeg(CityGen.toUnits(minLon + rnd.nextDouble() * (maxLon - minLon)))
  private def randLat = CityGen.gridDeg(CityGen.toUnits(minLat + rnd.nextDouble() * (maxLat - minLat)))

  /** Write the next change file to `path`; returns the number of element
    * changes it carries. */
  def writeFile(path: String, changes: Int): Int = {
    val touched = mutable.Set.empty[(Byte, Long)]
    val out = mutable.ArrayBuffer.empty[RawElement] // op-tagged, in file order
    def emit(e: RawElement): Unit = { touched += (e.kind -> e.id); out += e }
    // a fixed quota of each edit kind per file (shuffled), so every file
    // does about the same work whatever the seed
    val quota = Seq(0 -> 0.40, 1 -> 0.08, 2 -> 0.04, 3 -> 0.05, 4 -> 0.18, 5 -> 0.08 / 5,
      6 -> 0.05 / 5, 7 -> 0.06, 8 -> 0.03, 9 -> 0.03)
    val ops = quota.flatMap { case (k, share) => Seq.fill(math.max(1, math.round(share * changes).toInt))(k) }
      .map(k => (rnd.nextLong(), k)).sortBy(_._1).map(_._2)
    ops.foreach { kind =>
      if (kind == 0) {
        pickLive(movable, nodes.contains, touched, Kind.Node).foreach { id =>
          val n = nodes(id)
          def jitter(d: Double) = CityGen.gridDeg(CityGen.toUnits(d) + rnd.nextInt(-40, 41))
          emit(n.copy(lon = n.lon.map(jitter), lat = n.lat.map(jitter), op = Op.Modify))
        }
      } else if (kind == 1) {
        val id = fresh()
        pois += id
        emit(RawElement(Kind.Node, id, Some(randLon), Some(randLat),
          Map("amenity" -> "cafe", "name" -> s"New $id"), Nil, Nil, Op.Create))
      } else if (kind == 2) {
        pickLive(pois, nodes.contains, touched, Kind.Node).foreach { id =>
          val n = nodes(id)
          emit(n.copy(tags = n.tags + ("name" -> s"Renamed ${rnd.nextInt(1000)}"), op = Op.Modify))
        }
      } else if (kind == 3) {
        pickLive(pois, nodes.contains, touched, Kind.Node).foreach { id =>
          emit(nodes(id).copy(op = Op.Delete))
        }
      } else if (kind == 4) {
        if (rnd.nextBoolean()) {
          val w = ways(streets(rnd.nextInt(streets.size)))
          if (!touched((Kind.Way, w.id))) {
            val hw = Seq("primary", "secondary", "residential")(rnd.nextInt(3))
            emit(w.copy(tags = w.tags + ("highway" -> hw), op = Op.Modify))
          }
        } else pickLive(buildings, ways.contains, touched, Kind.Way).foreach { id =>
          val w = ways(id)
          val tags =
            if (w.tags.contains("addr:housenumber")) w.tags - "addr:housenumber" - "addr:street"
            else w.tags ++ Map("addr:housenumber" -> s"${1 + rnd.nextInt(200)}", "addr:street" -> "Main Street")
          emit(w.copy(tags = tags, op = Op.Modify))
        }
      } else if (kind == 5) {
        val x0 = randLon
        val y0 = randLat
        val pts = Seq((0, 0), (2000, 0), (2000, 1500), (0, 1500)).map { case (dx, dy) =>
          val id = fresh()
          emit(RawElement(Kind.Node, id,
            Some(CityGen.gridDeg(CityGen.toUnits(x0) + dx)),
            Some(CityGen.gridDeg(CityGen.toUnits(y0) + dy)), Map.empty, Nil, Nil, Op.Create))
          movable += id
          id
        }
        val wid = fresh()
        buildings += wid
        emit(RawElement(Kind.Way, wid, None, None, Map("building" -> "yes"),
          pts :+ pts.head, Nil, Op.Create))
      } else if (kind == 6) {
        pickLive(buildings, ways.contains, touched, Kind.Way).foreach { id =>
          val w = ways(id)
          val own = w.refs.distinct
          // only buildings whose nodes nothing else in this file touched
          if (own.forall(n => !touched((Kind.Node, n)))) {
            emit(w.copy(op = Op.Delete))
            own.foreach(n => emit(nodes(n).copy(op = Op.Delete)))
          }
        }
      } else if (kind == 7) {
        pickLive(routesAndParks, rels.contains, touched, Kind.Relation).foreach { id =>
          val rel = rels(id)
          if (rel.tags.get("route").contains("bus")) {
            val stops = rel.members.filter(_.role == "stop")
            val ms =
              if (stops.size > 1) rel.members.filterNot(_ == stops.last)
              else rel.members
            emit(rel.copy(members = ms, tags = rel.tags + ("note" -> s"v${rnd.nextInt(1000)}"),
              op = Op.Modify))
          } else
            emit(rel.copy(tags = rel.tags + ("name" -> s"Park ${rnd.nextInt(1000)}"), op = Op.Modify))
        }
      } else if (kind == 8) {
        val i = rnd.nextInt(streets.size - 2)
        val ms = streets.slice(i, i + 2).map(w => RawMember(w, 1, ""))
        val id = fresh()
        routesAndParks += id
        emit(RawElement(Kind.Relation, id, None, None,
          Map("type" -> "route", "route" -> "bus", "ref" -> s"X$id", "name" -> s"Express $id"),
          Nil, ms, Op.Create))
      } else {
        pickLive(routesAndParks, rels.contains, touched, Kind.Relation).foreach { id =>
          emit(rels(id).copy(op = Op.Delete))
        }
      }
    }
    writeOsc(path, out.toSeq)
    out.foreach { e =>
      val m = e.kind match {
        case Kind.Node => nodes
        case Kind.Way => ways
        case _ => rels
      }
      if (e.op == Op.Delete) m.remove(e.id) else m(e.id) = e
    }
    out.size
  }

  private def esc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  private def writeOsc(path: String, elems: Seq[RawElement]): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new OutputStreamWriter(new GZIPOutputStream(
      new java.io.FileOutputStream(path)), "UTF-8")
    try {
      w.write("<?xml version='1.0' encoding='UTF-8'?>\n<osmChange version=\"0.6\" generator=\"perfbench\">\n")
      def block(op: Byte, name: String, order: Seq[Byte]): Unit = {
        val xs = order.flatMap(k => elems.filter(e => e.op == op && e.kind == k))
        if (xs.nonEmpty) {
          w.write(s"<$name>\n")
          xs.foreach(e => w.write(xml(e, op == Op.Delete)))
          w.write(s"</$name>\n")
        }
      }
      block(Op.Create, "create", Seq(Kind.Node, Kind.Way, Kind.Relation))
      block(Op.Modify, "modify", Seq(Kind.Node, Kind.Way, Kind.Relation))
      block(Op.Delete, "delete", Seq(Kind.Relation, Kind.Way, Kind.Node))
      w.write("</osmChange>\n")
    } finally w.close()
  }

  private def xml(e: RawElement, delete: Boolean): String = {
    val sb = new StringBuilder
    val tags = if (delete) "" else e.tags.toSeq.sorted
      .map { case (k, v) => s"""  <tag k="${esc(k)}" v="${esc(v)}"/>\n""" }.mkString
    e.kind match {
      case Kind.Node =>
        sb.append(s"""<node id="${e.id}" version="2" lat="${e.lat.get}" lon="${e.lon.get}">\n""")
        sb.append(tags).append("</node>\n")
      case Kind.Way =>
        sb.append(s"""<way id="${e.id}" version="2">\n""")
        if (!delete) e.refs.foreach(r => sb.append(s"""  <nd ref="$r"/>\n"""))
        sb.append(tags).append("</way>\n")
      case _ =>
        sb.append(s"""<relation id="${e.id}" version="2">\n""")
        if (!delete) e.members.foreach { m =>
          val t = m.mtype match { case 0 => "node"; case 1 => "way"; case _ => "relation" }
          sb.append(s"""  <member type="$t" ref="${m.id}" role="${esc(m.role)}"/>\n""")
        }
        sb.append(tags).append("</relation>\n")
    }
    sb.toString
  }
}
