package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, DoubleType, StringType, StructField, StructType}

import graft.core.Geom._

/** Seeded input generation. Every table the engine reads is written as
  * parquet (four files, so no operator needs a kernel-width repartition)
  * under the run directory; the same values stay in arrays here for the
  * brute-force references. Equal seeds give equal tables.
  */
object Inputs {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Selects about 1/`mod` of the non-negative keys: `(v * mul + add)`
    * reduced modulo a large prime first, so the share does not depend on
    * how the keys fall modulo `mod` (pids end in the line number 1..7).
    * The same arithmetic runs in Spark and in the references.
    */
  final case class Pick(mul: Long, add: Long, mod: Long) {
    private val p = 1000003L
    def apply(v: Long): Boolean = (v * mul + add) % p % mod == 0
    def col(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (c * mul + add) % p % mod === 0
  }

  private def fmt(v: Double): String = graft.core.Wkt.formatDouble(v)

  def pick(r: SplittableRandom, mod: Long): Pick =
    Pick(1 + 2 * r.nextLong(1, 50000), r.nextLong(mod), mod)

  /** Lineitem-shaped rows. `graft.sources.Synth.points` derives pid, lon
    * and lat from them; the copies below repeat that arithmetic operation
    * for operation.
    */
  final class Points(val orderkey: Array[Long], val linenumber: Array[Int],
                     val suppkey: Array[Long]) {
    val n: Int = orderkey.length
    val pid: Array[Long] = Array.tabulate(n)(i => orderkey(i) * 10 + linenumber(i))
    val lon: Array[Double] = Array.tabulate(n)(i => -180.0 + 360.0 *
      (((orderkey(i) * 48271 + linenumber(i) * 1117) % 100000).toDouble / 100000.0))
    val lat: Array[Double] = Array.tabulate(n)(i => -85.0 + 170.0 *
      (((orderkey(i) * 16807 + linenumber(i) * 2003) % 100000).toDouble / 100000.0))
  }

  /** `n` rows; orders carry 1 to 7 lines, order keys are strictly
    * increasing with a seeded gap, so pids are unique.
    */
  def points(seed: Long, n: Int): Points = {
    val r = rng(seed, 1)
    val ok = new Array[Long](n); val ln = new Array[Int](n); val sk = new Array[Long](n)
    var i = 0; var order = 0L
    while (i < n) {
      val key = order * 16 + 1 + r.nextInt(16)
      val lines = 1 + r.nextInt(7)
      var l = 1
      while (l <= lines && i < n) {
        ok(i) = key; ln(i) = l; sk(i) = 1 + r.nextInt(1000)
        i += 1; l += 1
      }
      order += 1
    }
    new Points(ok, ln, sk)
  }

  /** Axis-aligned boxes whose edges sit half a lattice step off the point
    * lattice (0.0036° in lon, 0.0017° in lat), so no point lies on an edge.
    */
  final class Regions(val id: Array[Long], val minx: Array[Double], val miny: Array[Double],
                      val maxx: Array[Double], val maxy: Array[Double]) {
    val n: Int = id.length
    def contains(i: Int, x: Double, y: Double): Boolean =
      minx(i) <= x && x <= maxx(i) && miny(i) <= y && y <= maxy(i)
  }

  def regions(seed: Long, n: Int): Regions = {
    val r = rng(seed, 2)
    val minx = new Array[Double](n); val miny = new Array[Double](n)
    val maxx = new Array[Double](n); val maxy = new Array[Double](n)
    for (i <- 0 until n) {
      val ix = r.nextInt(80000); val w = 1000 + r.nextInt(2500)
      val iy = r.nextInt(90000); val h = 2000 + r.nextInt(4000)
      minx(i) = -180.0 + 0.0036 * (ix + 0.5)
      maxx(i) = -180.0 + 0.0036 * (ix + w + 0.5)
      miny(i) = -85.0 + 0.0017 * (iy + 0.5)
      maxy(i) = -85.0 + 0.0017 * (math.min(iy + h, 99999) + 0.5)
    }
    new Regions(Array.tabulate(n)(_.toLong), minx, miny, maxx, maxy)
  }

  /** q33-shaped tile polygons: a box or a self-intersecting bow-tie inside
    * web-mercator tile (9, tx, ty). The tile window's origin and each
    * polygon's tile come from the seed; about half are bow-ties.
    */
  final class Polys(val pid: Array[Long], val tx: Array[Long], val ty: Array[Long],
                    val wkt: Array[String]) {
    val n: Int = pid.length
    lazy val geom: Array[Geometry] = wkt.map(graft.core.Wkt.decode)
  }

  def polys(seed: Long, n: Int): Polys = {
    val r = rng(seed, 3)
    val ox = r.nextInt(448); val oy = 100 + r.nextInt(272)
    val pid = new Array[Long](n); val tx = new Array[Long](n); val ty = new Array[Long](n)
    val wkt = new Array[String](n)
    for (i <- 0 until n) {
      pid(i) = i.toLong * 8 + r.nextInt(8)
      tx(i) = ox + r.nextInt(64); ty(i) = oy + r.nextInt(40)
      val t = graft.core.Slippy.tileExtent3857(9, tx(i).toInt, ty(i).toInt)
      val xs = t.maxx - t.minx; val ys = t.maxy - t.miny
      val gl = t.minx + (r.nextInt(8) * 0.05 + 0.1) * xs
      val gt = t.miny + (r.nextInt(9) * 0.05 + 0.1) * ys
      val ga = gl + (r.nextInt(4) * 0.05 + 0.25) * xs
      val gb = gt + (r.nextInt(6) * 0.04 + 0.25) * ys
      val ring =
        if (r.nextBoolean()) Seq((gl, gt), (ga, gt), (ga, gb), (gl, gb), (gl, gt))
        else Seq((gl, gt), (ga, gb), (ga, gt), (gl, gb), (gl, gt))
      wkt(i) = ring.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }.mkString("POLYGON ((", ",", "))")
    }
    new Polys(pid, tx, ty, wkt)
  }

  /** Six-vertex zigzag linestrings in lon/lat with a per-row clip box that
    * cuts them, and a Douglas-Peucker tolerance.
    */
  final class Lines(val pid: Array[Long], val wkt: Array[String], val box: Array[Extent],
                    val tol: Array[Double]) {
    val n: Int = pid.length
    lazy val geom: Array[Geometry] = wkt.map(graft.core.Wkt.decode)
  }

  def lines(seed: Long, n: Int): Lines = {
    val r = rng(seed, 4)
    val pid = new Array[Long](n); val wkt = new Array[String](n)
    val box = new Array[Extent](n); val tol = new Array[Double](n)
    for (i <- 0 until n) {
      pid(i) = i.toLong * 4 + r.nextInt(4)
      val x0 = -170.0 + r.nextDouble() * 330.0; val y0 = -75.0 + r.nextDouble() * 145.0
      val step = 0.5 + r.nextDouble()
      val pts = (0 until 6).map(k => (x0 + k * step, y0 + (if (k % 2 == 0) 0.0 else 0.2 + r.nextDouble())))
      wkt(i) = pts.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }.mkString("LINESTRING (", ",", ")")
      box(i) = Extent(x0 + step * 0.5, y0 - 1.0, x0 + step * 3.5, y0 + 0.8)
      tol(i) = 0.1 + r.nextInt(5) * 0.1
    }
    new Lines(pid, wkt, box, tol)
  }

  // ---- parquet writers ----

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)

  def writePoints(spark: SparkSession, p: Points, path: String): Unit =
    write(spark, (0 until p.n).map(i => Row(p.orderkey(i), p.linenumber(i), p.suppkey(i))),
      StructType(Seq(StructField("l_orderkey", LongType, false),
        StructField("l_linenumber", IntegerType, false),
        StructField("l_suppkey", LongType, false))), path)

  def writeRegions(spark: SparkSession, g: Regions, path: String): Unit =
    write(spark, (0 until g.n).map(i => Row(g.id(i), g.minx(i), g.miny(i), g.maxx(i), g.maxy(i))),
      StructType(Seq("region_id" -> LongType, "minx" -> DoubleType, "miny" -> DoubleType,
        "maxx" -> DoubleType, "maxy" -> DoubleType).map { case (c, t) => StructField(c, t, false) }),
      path)

  def writePolys(spark: SparkSession, p: Polys, path: String): Unit =
    write(spark, (0 until p.n).map(i => Row(p.pid(i), 9, p.tx(i), p.ty(i), p.wkt(i))),
      StructType(Seq("pid" -> LongType, "z9" -> IntegerType, "tx" -> LongType,
        "ty" -> LongType, "wkt" -> StringType).map { case (c, t) => StructField(c, t, false) }),
      path)

  def writeLines(spark: SparkSession, l: Lines, path: String): Unit =
    write(spark, (0 until l.n).map { i =>
      val b = l.box(i)
      Row(l.pid(i), l.wkt(i), b.minx, b.miny, b.maxx, b.maxy, l.tol(i))
    }, StructType(Seq("pid" -> LongType, "wkt" -> StringType, "bminx" -> DoubleType,
      "bminy" -> DoubleType, "bmaxx" -> DoubleType, "bmaxy" -> DoubleType,
      "tol" -> DoubleType).map { case (c, t) => StructField(c, t, false) }), path)
}
