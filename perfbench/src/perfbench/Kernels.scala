package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, StringType, StructField, StructType}

import graft.core.Geom._
import graft.core._
import graft.functions.GeomFunctions._

/** Per-row kernel costs on `tile_sink`'s seeded geometry, for the traced
  * run: the Spark-free `core` kernels at 1 and 4 threads, and the Catalyst
  * `st_*` expressions as a map-only noop pass with the expression minus
  * the same pass without it.
  */
object Kernels {

  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** one kernel: `calls` inputs; `run(i)` processes input i and returns a
    * value folded into a sink so the JIT cannot drop the call. One call
    * covers `rowsPerCall` rows (features per tile for the layer encoder).
    */
  final case class Kernel(name: String, calls: Int, run: Int => Int, rowsPerCall: Double = 1.0)

  final case class KernelCost(usPerRow1t: Double, usPerRow4t: Double, allocBPerRow: Double)

  private def sweep(k: Kernel, reps: Int): Int = {
    var acc = 0; var r = 0
    while (r < reps) { var i = 0; while (i < k.calls) { acc += k.run(i); i += 1 }; r += 1 }
    acc
  }

  @volatile private var sink = 0

  def measure(k: Kernel, targetS: Double = 0.1): KernelCost = {
    sink += sweep(k, 2) // warm
    val t0 = System.nanoTime(); sink += sweep(k, 1)
    val reps = math.max(1, math.ceil(targetS / math.max(1e-6, (System.nanoTime() - t0) / 1e9)).toInt)
    val tid = Thread.currentThread().getId
    val a0 = threadMx.getThreadAllocatedBytes(tid)
    val t1 = System.nanoTime(); sink += sweep(k, reps); val t2 = System.nanoTime()
    val rows = reps.toDouble * k.calls * k.rowsPerCall
    val alloc = (threadMx.getThreadAllocatedBytes(tid) - a0) / rows
    val threads = 4
    val ts = (0 until threads).map(_ => new Thread(() => sink += sweep(k, reps)))
    val t3 = System.nanoTime(); ts.foreach(_.start()); ts.foreach(_.join()); val t4 = System.nanoTime()
    // per-row time of one thread while four run: wall × threads ÷ all rows
    KernelCost((t2 - t1) / 1e3 / rows, (t4 - t3) / 1e3 * threads / (rows * threads), alloc)
  }

  def coreKernels(polys: Inputs.Polys, lines: Inputs.Lines): Seq[Kernel] = {
    val pg = polys.geom; val lg = lines.geom
    val fixed = pg.map(g => MakeValid.geometry(g, None).getOrElse(g))
    val ext = Array.tabulate(polys.n)(i => Slippy.tileExtent3857(9, polys.tx(i).toInt, polys.ty(i).toInt))
    val prepped = Array.tabulate(polys.n)(i => Mvt.prepareGeo(fixed(i), ext(i)))
    // tiles as the sink groups them: the features of one tile in fid order
    val tiles = (0 until polys.n).groupBy(i => (polys.tx(i), polys.ty(i))).values.toArray
      .map(_.sortBy(i => polys.pid(i).toString).map { i =>
        val (cmds, t) = Mvt.encodeGeometryRaw(prepped(i))
        MvtTile.Feature(0L, t, cmds.toIndexedSeq,
          Vector("fid" -> MvtTile.TagValue.VString(polys.pid(i).toString)))
      })
    val to3857 = Projection.forSrid(3857).get
    Seq(
      Kernel("wkt_decode", polys.n, i => Wkt.decode(polys.wkt(i)).##),
      Kernel("wkb_codec", polys.n, i => Wkb.decode(Wkb.encode(pg(i))).##),
      Kernel("clip", lines.n, i => Clip.geometry(lg(i), Some(lines.box(i))).##),
      Kernel("simplify_dp", lines.n, i => Simplify.geometry(lg(i), lines.tol(i)).##),
      Kernel("makevalid", polys.n, i => MakeValid.geometry(pg(i), None).##),
      Kernel("mvt_prepare", polys.n, i => Mvt.prepareGeo(fixed(i), ext(i)).##),
      Kernel("mvt_encode", polys.n, i => Mvt.encodeGeometryRaw(prepped(i))._1.length),
      Kernel("mvt_layer", tiles.length, i =>
        MvtTile.encodeLayerStream("features", tiles(i).iterator).length,
        rowsPerCall = polys.n.toDouble / tiles.length),
      Kernel("transform_3857", lines.n, i => applyToPoints(lg(i))(p => to3857.forward(p._1, p._2)).##))
  }

  /** the expressions timed as `functions.<name>.ns_per_row`: (name, input
    * columns, expression over them)
    */
  private val nan = lit(Double.NaN)
  val expressions: Seq[(String, Seq[String], Column)] = Seq(
    ("st_geomfromwkt", Seq("wkt"), st_geomfromwkt(col("wkt"))),
    ("st_makevalid", Seq("poly"), st_makevalid(col("poly"), nan, nan, nan, nan)),
    ("st_clip", Seq("line", "bminx", "bminy", "bmaxx", "bmaxy"),
      st_clip(col("line"), col("bminx"), col("bminy"), col("bmaxx"), col("bmaxy"))),
    ("st_simplify", Seq("line", "tol"), st_simplify(col("line"), col("tol"))),
    ("st_transform", Seq("line"), st_transform(col("line"), 4326, 3857)),
    ("st_cell_at", Seq("lon", "lat"), st_cell_at(col("lon"), col("lat"), lit(9))))

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  /** ns per row of each expression over a 64k-row parquet table of the
    * polygons and lines: median of `reps` noop passes with it minus median
    * without it
    */
  def functionCosts(spark: SparkSession, polys: Inputs.Polys, lines: Inputs.Lines, path: String,
                    reps: Int = 3): Seq[(String, Double)] = {
    val n = 64000
    val rows = (0 until n).map { k =>
      val i = k % math.min(polys.n, lines.n)
      val b = lines.box(i); val (lon, lat) = coordinates(lines.geom(i)).head
      Row(polys.wkt(i), Wkb.encode(polys.geom(i)), Wkb.encode(lines.geom(i)),
        b.minx, b.miny, b.maxx, b.maxy, lines.tol(i), lon, lat)
    }
    val schema = StructType(Seq("wkt" -> StringType, "poly" -> BinaryType, "line" -> BinaryType,
      "bminx" -> DoubleType, "bminy" -> DoubleType, "bmaxx" -> DoubleType, "bmaxy" -> DoubleType,
      "tol" -> DoubleType, "lon" -> DoubleType, "lat" -> DoubleType)
      .map { case (c, t) => StructField(c, t, false) })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    expressions.map { case (name, inputs, e) =>
      val base = df.select(inputs.map(col): _*)
      val withE = df.select(e.as("out"))
      noop(base); noop(withE) // warm both plans
      val (tw, tb) = (1 to reps).map(_ => (noop(withE), noop(base))).unzip
      name -> (median(tw) - median(tb)) * 1e9 / n
    }
  }
}
