package perfbench

import scala.collection.mutable

import graft.core.Geom._
import graft.core.{Clip, MakeValid, Mvt, MvtTile, Simplify, Slippy, Wkb, Wkt}

/** Brute-force answers, computed in-process without Spark, that the
  * operators' outputs are checked against. Joins are plain loops over the
  * generated arrays; tile outputs are rebuilt one geometry at a time
  * through the `core` kernels.
  */
object Reference {

  import Inputs._

  def d2(x1: Double, y1: Double, x2: Double, y2: Double): Double =
    (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)

  /** k nearest other points of point `q`, ordered by (distance², pid) */
  def knn(p: Points, q: Int, k: Int): Seq[(Long, Double)] = {
    val best = mutable.PriorityQueue.empty[(Double, Long)] // max-heap on (d2, pid)
    var j = 0
    while (j < p.n) {
      if (p.pid(j) != p.pid(q)) {
        val d = d2(p.lon(q), p.lat(q), p.lon(j), p.lat(j))
        if (best.size < k) best.enqueue((d, p.pid(j)))
        else if (Ordering[(Double, Long)].lt((d, p.pid(j)), best.head)) {
          best.dequeue(); best.enqueue((d, p.pid(j)))
        }
      }
      j += 1
    }
    best.toSeq.sorted.map { case (d, id) => (id, d) }
  }

  /** (pid, region_id) pairs of points in `pts` inside kept regions */
  def pip(p: Points, pts: Int => Boolean, g: Regions, keep: Long => Boolean): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer[(Long, Long)]()
    val kept = (0 until g.n).filter(j => keep(g.id(j)))
    for (i <- 0 until p.n if pts(i); j <- kept if g.contains(j, p.lon(i), p.lat(i)))
      out += ((p.pid(i), g.id(j)))
    out.toSeq
  }

  /** (qid, nid) pairs with distance ≤ `radius`, qid from `left`, nid ≠ qid;
    * a 1°-cell grid limits the candidates (radius ≤ 1).
    */
  def within(p: Points, left: Int => Boolean, radius: Double): Seq[(Long, Long)] = {
    require(radius <= 1.0)
    val grid = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Int]]()
    for (j <- 0 until p.n)
      grid.getOrElseUpdate((math.floor(p.lon(j)).toInt, math.floor(p.lat(j)).toInt),
        mutable.ArrayBuffer[Int]()) += j
    val out = mutable.ArrayBuffer[(Long, Long)]()
    for (i <- 0 until p.n if left(i)) {
      val cx = math.floor(p.lon(i)).toInt; val cy = math.floor(p.lat(i)).toInt
      for (dx <- -1 to 1; dy <- -1 to 1; j <- grid.getOrElse((cx + dx, cy + dy), Nil))
        if (p.pid(j) != p.pid(i) && d2(p.lon(i), p.lat(i), p.lon(j), p.lat(j)) <= radius * radius)
          out += ((p.pid(i), p.pid(j)))
    }
    out.toSeq
  }

  /** (pid, region_id) pairs whose closed boxes overlap; point boxes are
    * [lon, lon + 2] × [lat, lat + 2]
    */
  def overlap(p: Points, a: Int => Boolean, g: Regions): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer[(Long, Long)]()
    for (i <- 0 until p.n if a(i); j <- 0 until g.n) {
      val (x0, y0, x1, y1) = (p.lon(i), p.lat(i), p.lon(i) + 2.0, p.lat(i) + 2.0)
      if (x0 <= g.maxx(j) && g.minx(j) <= x1 && y0 <= g.maxy(j) && g.miny(j) <= y1)
        out += ((p.pid(i), g.id(j)))
    }
    out.toSeq
  }

  // ---- docs pipeline (the span layout of graft.sources.DocsTable) ----

  def docId(pid: Long): String = f"doc-$pid%012d"

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  /** the polygon span of doc `pid` (docs with pid % 97 == 0 carry one) */
  def docPolygon(pid: Long, lon: Double, lat: Double): Geometry =
    if (pid % 194 == 0) {
      def s(v: Double) = java.lang.Double.toString(v)
      Wkt.decode(s"POLYGON ((${s(lon)} ${s(lat)},${s(lon + 2)} ${s(lat + 2)}," +
        s"${s(lon + 2)} ${s(lat)},${s(lon)} ${s(lat + 2)},${s(lon)} ${s(lat)}))")
    } else Wkt.decode(Wkt.encode(Extent(lon - 1, lat - 1, lon + 1, lat + 1).asPolygon))

  /** z9 cells (4326 grid) of a made-valid polygon's envelope */
  def cells4326(g: Geometry): Seq[Long] =
    MakeValid.geometry(g, None).flatMap(Extent.ofGeometry) match {
      case Some(e) => Slippy.fromBounds(9, e.minx, e.miny, e.maxx, e.maxy)
      case None    => Nil
    }

  // ---- tile kernels ----

  /** the fused tile pipeline of one geometry: simplify at one pixel, make
    * valid against the 1-px-expanded tile, prepare, encode
    */
  def mvtCommands(g: Geometry, tx: Int, ty: Int): Option[(Seq[Long], Int)] = {
    val ext = Slippy.tileExtent3857(9, tx, ty)
    val px = (ext.maxx - ext.minx) / 4096.0
    val clip = Extent(ext.minx - px, ext.miny - px, ext.maxx + px, ext.maxy + px)
    scala.util.Try(MakeValid.geometry(Simplify.geometry(g, px), Some(clip))).toOption.flatten
      .map { fixed =>
        val (cmds, t) = Mvt.encodeGeometryRaw(Mvt.prepareGeo(fixed, ext))
        (cmds.toSeq, t)
      }
  }

  /** one feature per (made-valid polygon, covering 3857 z9 tile) */
  final case class TileFeature(pid: Long, geom: Geometry)

  def tileFeatures(p: Polys): Map[Long, Seq[TileFeature]] = {
    val out = mutable.HashMap[Long, mutable.ArrayBuffer[TileFeature]]()
    for (i <- 0 until p.n; fixed <- MakeValid.geometry(p.geom(i), None);
         e <- Extent.ofGeometry(fixed); cell <- Slippy.fromBounds3857(9, e.minx, e.miny, e.maxx, e.maxy))
      out.getOrElseUpdate(cell, mutable.ArrayBuffer[TileFeature]()) += TileFeature(p.pid(i), fixed)
    out.map { case (k, v) => k -> v.toSeq }.toMap
  }

  /** the protobuf bytes of tile `cell`: features ordered by fid string,
    * ids 1..n, optional typed tags pid/score/even
    */
  def tileBytes(cell: Long, feats: Seq[TileFeature], typed: Boolean): Array[Byte] = {
    val ext = Slippy.tileExtent3857(Slippy.unpackZ(cell), Slippy.unpackX(cell).toInt,
      Slippy.unpackY(cell).toInt)
    val features = feats.sortBy(_.pid.toString).zipWithIndex.map { case (f, i) =>
      val (cmds, t) = Mvt.encodeGeometryRaw(Mvt.prepareGeo(f.geom, ext))
      val props = Vector[(String, MvtTile.TagValue)](
        "fid" -> MvtTile.TagValue.VString(f.pid.toString)) ++ (if (!typed) Nil else Seq(
        "pid" -> MvtTile.TagValue.VInt(f.pid),
        "score" -> MvtTile.TagValue.VDouble(f.pid.toDouble / 4.0 + 0.5),
        "even" -> MvtTile.TagValue.VBool(f.pid % 2 == 0)))
      MvtTile.Feature(i + 1L, t, cmds.toIndexedSeq, props)
    }
    MvtTile.encodeTileFromLayerBytes(Vector(MvtTile.encodeLayerStream("features", features.iterator)))
  }

  // ---- line kernels ----

  def clipWkb(g: Geometry, box: Extent): Array[Byte] =
    Clip.geometry(g, Some(box)).map(Wkb.encode).orNull

  def simplifyWkb(g: Geometry, tol: Double): Array[Byte] = Wkb.encode(Simplify.geometry(g, tol))

  /** spherical web-mercator, written out independently of the engine */
  def merc(lon: Double, lat: Double): (Double, Double) = {
    val r = 6378137.0
    (r * lon * math.Pi / 180.0, r * math.log(math.tan(math.Pi / 4.0 + lat * math.Pi / 360.0)))
  }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 + 1e-9 * math.abs(b)
}
