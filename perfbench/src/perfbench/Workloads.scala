package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Geom._
import graft.core.{Slippy, Wkb}
import graft.functions.GeomFunctions._
import graft.operators.{Knn, SpatialJoin, TilePipeline, Tiler}
import graft.sources.{CatalogIO, DocsTable, Synth}

/** One sink action over an op's output: row count, an order-independent
  * digest of every row, and the rows the seeded sample predicate selects.
  */
object Sink {
  final case class Result(count: Long, digest: Long, sample: Seq[Row])

  def run(df: DataFrame, key: Column): Result = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      collect_list(when(key, struct(cols: _*)))).head()
    Result(r.getLong(0), r.getLong(1), r.getSeq[Row](2))
  }
}

/** One timed call into an engine layer. `plan` returns the op's DataFrame
  * (jobs it starts are plan-time jobs); `exec` runs the sink action;
  * `check` lists mismatches against the brute-force reference.
  */
abstract class Op(val name: String, val layer: String, val inputRows: Long) {
  def plan(): DataFrame
  def key: Column
  def exec(df: DataFrame): Sink.Result = Sink.run(df, key)
  def check(r: Sink.Result): Seq[String]
}

trait Workload {
  def name: String
  /** warm passes before measuring: enough to reach the flat part of the
    * first JIT drop (about 10-15 s of passes)
    */
  def warmPasses: Int = 2
  /** (re)writes the seeded input tables; overwrites earlier ones */
  def generate(): Unit
  def ops: Seq[Op]
  /** hash of the generated inputs (same seed ⇒ same value) */
  def inputDigest: Long
}

object Workload {

  val names: Seq[String] = Seq("knn_join", "tile_sink", "bucketed_reuse")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "knn_join"       => new KnnJoin(spark, seed, dir)
    case "tile_sink"      => new TileSink(spark, seed, dir)
    case "bucketed_reuse" => new BucketedReuse(spark, seed, dir)
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** mismatch lines for two pair sets, restricted to the sampled keys */
  def comparePairs(what: String, got: Seq[(Long, Long)], exp: Seq[(Long, Long)]): Seq[String] = {
    val (g, e) = (got.groupBy(identity).view.mapValues(_.size).toMap,
      exp.groupBy(identity).view.mapValues(_.size).toMap)
    if (g == e) Nil
    else Seq(s"$what: ${(g.keySet diff e.keySet).take(3)} unexpected, " +
      s"${(e.keySet diff g.keySet).take(3)} missing, ${g.size} vs ${e.size} distinct")
  }

  def countIs(what: String, got: Long, exp: Long): Seq[String] =
    if (got == exp) Nil else Seq(s"$what: $got rows, expected $exp")

  def pairs(rows: Seq[Row], a: String, b: String): Seq[(Long, Long)] =
    rows.map(r => (r.getAs[Long](a), r.getAs[Long](b)))

  def digestOf(parts: Seq[Any]): Long = parts.foldLeft(17L)((h, p) => h * 1000003L + p.##)
}

import Inputs._
import Workload._

/** kNN and the three spatial joins over one seeded point set. */
final class KnnJoin(spark: SparkSession, seed: Long, dir: String) extends Workload {
  val name = "knn_join"
  // its first pass alone takes ~16 s, twice a steady one
  override val warmPasses = 1
  val pts: Points = points(seed, 30000)
  val rg: Regions = regions(seed, 64)
  private val r = rng(seed, 10)
  private val sparse = pick(r, 151)
  private val (wx, wy) = (-180.0 + r.nextDouble() * 300.0, -85.0 + r.nextDouble() * 130.0)
  private val pipDrop = pick(r, 8)
  private val distLeft = pick(r, 4)
  private val extA = pick(r, 16)
  private val (sKnn, sPip, sDist, sExt) = (pick(r, 31), pick(r, 293), pick(r, 151), pick(r, 31))
  private def regionsDf = spark.read.parquet(s"$dir/regions.parquet")

  def generate(): Unit = {
    writePoints(spark, pts, s"$dir/lineitem.parquet")
    writeRegions(spark, rg, s"$dir/regions.parquet")
  }

  def inputDigest: Long = digestOf(Seq(pts.pid.toSeq, rg.minx.toSeq, rg.miny.toSeq, wx, wy))

  private def inWindow(lon: Double, lat: Double) = lon >= wx && lon <= wx + 60 && lat >= wy && lat <= wy + 40
  /** one query set holding both shapes: a sparse sample over the whole
    * point set (q12) and every point of a dense window (q21)
    */
  private val queries = (0 until pts.n).filter(i => sparse(pts.pid(i)) || inWindow(pts.lon(i), pts.lat(i)))

  val ops: Seq[Op] = Seq(
    new Op("knn", "knn", queries.size.toLong + pts.n) {
      def plan(): DataFrame = {
        val p = Synth.points(spark, dir).select(col("pid"), col("lon"), col("lat"))
        val q = p.filter(sparse.col(col("pid")) ||
            (col("lon") >= wx && col("lon") <= wx + 60 && col("lat") >= wy && col("lat") <= wy + 40))
          .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
        Knn.knnJoinAuto(q, p, k = 3)
      }
      def key: Column = sKnn.col(col("qid"))
      def check(res: Sink.Result): Seq[String] = {
        val got = res.sample.groupBy(_.getAs[Long]("qid")).view.mapValues(
          _.sortBy(_.getAs[Long]("rk")).map(x => (x.getAs[Long]("nid"), x.getAs[Double]("dist2")))).toMap
        val sampled = queries.filter(i => sKnn(pts.pid(i)))
        countIs(name, res.count, 3L * queries.size) ++
          (if (got.keySet == sampled.map(pts.pid).toSet) Nil else Seq(s"$name: sampled query set differs")) ++
          sampled.flatMap { i =>
            val exp = Reference.knn(pts, i, 3)
            if (got.get(pts.pid(i)).contains(exp)) None
            else Some(s"$name: qid ${pts.pid(i)} got ${got.get(pts.pid(i))} expected $exp")
          }
      }
    },
    new Op("pip_join", "pip_join", pts.n.toLong + (0 until rg.n).count(j => !pipDrop(rg.id(j)))) {
      private lazy val exp = Reference.pip(pts, _ => true, rg, id => !pipDrop(id))
      def plan(): DataFrame = {
        val polys = regionsDf.filter(!pipDrop.col(col("region_id")))
          .withColumn("poly", st_box_polygon(col("minx"), col("miny"), col("maxx"), col("maxy")))
        SpatialJoin.pipJoin(Synth.points(spark, dir), "lon", "lat", polys, "region_id", "poly")
          .select(col("pid"), col("region_id"))
      }
      def key: Column = sPip.col(col("pid"))
      def check(res: Sink.Result): Seq[String] =
        countIs(name, res.count, exp.size) ++
          comparePairs(name, pairs(res.sample, "pid", "region_id"), exp.filter(x => sPip(x._1)))
    },
    new Op("distance_join", "distance_join", pts.n.toLong + pts.pid.count(distLeft(_))) {
      private lazy val exp = Reference.within(pts, i => distLeft(pts.pid(i)), 1.0)
      def plan(): DataFrame = {
        val p = Synth.points(spark, dir)
        val l = p.filter(distLeft.col(col("pid")))
          .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
        val rt = p.select(col("pid").as("nid"), col("lon"), col("lat"))
        SpatialJoin.distanceJoin(l, "qlon", "qlat", rt, "lon", "lat", radius = 1.0)
          .filter(col("qid") =!= col("nid")).select(col("qid"), col("nid"))
      }
      def key: Column = sDist.col(col("qid"))
      def check(res: Sink.Result): Seq[String] =
        countIs(name, res.count, exp.size) ++
          comparePairs(name, pairs(res.sample, "qid", "nid"), exp.filter(x => sDist(x._1)))
    },
    new Op("extent_join", "extent_join", rg.n.toLong + pts.pid.count(extA(_))) {
      private lazy val exp = Reference.overlap(pts, i => extA(pts.pid(i)), rg)
      def plan(): DataFrame = {
        val a = Synth.points(spark, dir).filter(extA.col(col("pid"))).select(col("pid"),
          col("lon").as("aminx"), col("lat").as("aminy"),
          (col("lon") + 2.0).as("amaxx"), (col("lat") + 2.0).as("amaxy"))
        val b = regionsDf.select(col("region_id"), col("minx").as("bminx"), col("miny").as("bminy"),
          col("maxx").as("bmaxx"), col("maxy").as("bmaxy"))
        SpatialJoin.extentJoin(a, "aminx", "aminy", "amaxx", "amaxy",
          b, "bminx", "bminy", "bmaxx", "bmaxy").select(col("pid"), col("region_id"))
      }
      def key: Column = sExt.col(col("pid"))
      def check(res: Sink.Result): Seq[String] =
        countIs(name, res.count, exp.size) ++
          comparePairs(name, pairs(res.sample, "pid", "region_id"), exp.filter(x => sExt(x._1)))
    })
}

/** The docs → tiles path and the MVT sink, over seeded points, q33-shaped
  * polygons and zigzag lines.
  */
final class TileSink(spark: SparkSession, seed: Long, dir: String) extends Workload {
  val name = "tile_sink"
  val pts: Points = points(seed, 40000)
  val polys: Polys = TileSink.polys(seed)
  val lines: Lines = TileSink.lines(seed)
  private val r = rng(seed, 20)
  private val (sDoc, sCell, sPoly, sTile, sLine) =
    (pick(r, 997), pick(r, 7), pick(r, 101), pick(r, 31), pick(r, 101))
  private val nan = lit(Double.NaN)

  def generate(): Unit = {
    writePoints(spark, pts, s"$dir/lineitem.parquet")
    writePolys(spark, polys, s"$dir/polys.parquet")
    writeLines(spark, lines, s"$dir/lines.parquet")
  }

  def inputDigest: Long = digestOf(Seq(pts.pid.toSeq, polys.wkt.toSeq, lines.wkt.toSeq))

  private def polyDocs = (0 until pts.n).filter(i => pts.pid(i) % 97 == 0)
  private lazy val docCells: Seq[(String, Long)] = polyDocs.flatMap { i =>
    Reference.cells4326(Reference.docPolygon(pts.pid(i), pts.lon(i), pts.lat(i)))
      .map(c => (Reference.docId(pts.pid(i)), c))
  }
  private lazy val features = Reference.tileFeatures(polys)
  private def fixedPolys = spark.read.parquet(s"$dir/polys.parquet").select(col("pid"),
    st_makevalid(st_geomfromwkt(col("wkt")), nan, nan, nan, nan).as("geom"))
  private def cellKey(c: Column) = sCell.col(pmod(c, lit(1000003L)))
  private def docKey(docId: Column, offset: Column) = {
    val c = crc32(docId.cast("binary"))
    (offset === 3 && sCell.col(c)) || sDoc.col(c)
  }

  private def tilesOp(opName: String, typed: Boolean) = new Op(opName, "mvt_tiles", polys.n) {
    def plan(): DataFrame = {
      val in = if (!typed) fixedPolys else fixedPolys
        .withColumn("score", col("pid").cast("double") / lit(4.0) + lit(0.5))
        .withColumn("even", (col("pid") % 2) === 0)
      Tiler.mvtTiles(spark, in, "pid", 9, "features", srid = 3857,
        propCols = if (typed) Seq("pid", "score", "even") else Nil)
    }
    def key: Column = sTile.col(col("x") * 1031 + col("y"))
    def check(res: Sink.Result): Seq[String] = {
      val exp = features.keys.filter(c => sTile(Slippy.unpackX(c) * 1031 + Slippy.unpackY(c)))
      val got = res.sample.map(x => Slippy.pack(x.getAs[Int]("z"), x.getAs[Long]("x"), x.getAs[Long]("y")) ->
        x.getAs[Array[Byte]]("mvt")).toMap
      countIs(opName, res.count, features.size) ++
        (if (got.keySet == exp.toSet) Nil else Seq(s"$opName: sampled tile set differs")) ++
        exp.flatMap { c =>
          val want = Reference.tileBytes(c, features(c), typed)
          if (got.get(c).exists(java.util.Arrays.equals(_, want))) None
          else Some(s"$opName: tile ${Slippy.unpackX(c)}/${Slippy.unpackY(c)} bytes differ")
        }
    }
  }

  val ops: Seq[Op] = Seq(
    new Op("docs_extract", "docs_extract", pts.n) {
      def plan(): DataFrame = DocsTable.extractGeometries(DocsTable.docs(spark, dir))
      def key: Column = docKey(col("doc_id"), col("span_offset"))
      /** (span count, the sampled spans) */
      private lazy val exp = {
        val all = (0 until pts.n).flatMap { i =>
          val (id, p) = (Reference.docId(pts.pid(i)), pts.pid(i))
          ((id, 1, GPoint((pts.lon(i), pts.lat(i))): Geometry) +: (if (p % 97 != 0) Nil
            else Seq((id, 3, Reference.docPolygon(p, pts.lon(i), pts.lat(i))))))
        }
        (all.size, all.filter { case (id, off, _) =>
          val c = Reference.crc(id)
          (off == 3 && sCell(c)) || sDoc(c)
        })
      }
      def check(res: Sink.Result): Seq[String] = {
        val sampled = exp._2
        val got = res.sample.map(x => (x.getAs[String]("doc_id"), x.getAs[Int]("span_offset"),
          Wkb.decode(x.getAs[Array[Byte]]("geom"))))
        countIs(name, res.count, exp._1) ++
          (if (got.toSet == sampled.toSet && got.size == sampled.size) Nil
           else Seq(s"$name: ${got.size} sampled spans, expected ${sampled.size}; first unexpected " +
             (got.toSet diff sampled.toSet).headOption))
      }
    },
    new Op("assign_tiles", "assign_tiles", pts.n) {
      def plan(): DataFrame = {
        val polysDf = DocsTable.extractGeometries(DocsTable.docs(spark, dir))
          .filter(col("span_offset") === 3)
          .filter(st_geomtype(col("geom")) === "Polygon")
          .withColumn("geom", st_makevalid(col("geom"), nan, nan, nan, nan))
        Tiler.assignTiles(polysDf, "doc_id", 9)
      }
      def key: Column = cellKey(col("cell"))
      def check(res: Sink.Result): Seq[String] = {
        val got = res.sample.map(x => (x.getAs[String]("doc_id"), x.getAs[Long]("cell")))
        val exp = docCells.filter(x => sCell(Math.floorMod(x._2, 1000003L)))
        countIs(name, res.count, docCells.size) ++
          (if (got.sorted == exp.sorted) Nil else Seq(s"$name: sampled (doc, cell) pairs differ"))
      }
    },
    new Op("mvt_commands", "mvt_commands", polys.n) {
      def plan(): DataFrame = {
        val in = spark.read.parquet(s"$dir/polys.parquet").withColumn("geom", st_geomfromwkt(col("wkt")))
        TilePipeline.mvtCommands(in, "geom", "z9", "tx", "ty")
          .select(col("pid"), col("mvt_type"), col("mvt_commands"))
      }
      def key: Column = sPoly.col(col("pid"))
      private lazy val exp = (0 until polys.n).filter(i => sPoly(polys.pid(i))).map(i => polys.pid(i) ->
        Reference.mvtCommands(polys.geom(i), polys.tx(i).toInt, polys.ty(i).toInt)).toMap
      def check(res: Sink.Result): Seq[String] = {
        val got = res.sample.map(x => x.getAs[Long]("pid") -> (if (x.isNullAt(x.fieldIndex("mvt_commands"))) None
          else Some((x.getAs[Seq[Long]]("mvt_commands"), x.getAs[Int]("mvt_type"))))).toMap
        countIs(name, res.count, polys.n) ++
          (if (got == exp) Nil else Seq(s"$name: ${exp.count { case (k, v) => !got.get(k).contains(v) }} " +
            s"of ${exp.size} sampled command streams differ"))
      }
    },
    tilesOp("mvt_tiles", typed = false),
    tilesOp("mvt_tiles_typed", typed = true),
    new Op("line_kernels", "line_kernels", lines.n) {
      def plan(): DataFrame = {
        val g = st_geomfromwkt(col("wkt"))
        spark.read.parquet(s"$dir/lines.parquet").select(col("pid"),
          st_clip(g, col("bminx"), col("bminy"), col("bmaxx"), col("bmaxy")).as("clipped"),
          st_simplify(g, col("tol")).as("simplified"),
          st_transform(g, 4326, 3857).as("merc"))
      }
      def key: Column = sLine.col(col("pid"))
      private lazy val byPid = lines.pid.zipWithIndex.toMap
      def check(res: Sink.Result): Seq[String] = {
        val got = res.sample
        val sampled = lines.pid.count(sLine(_))
        val bad = got.count { x =>
          val i = byPid(x.getAs[Long]("pid"))
          val g = lines.geom(i)
          val merc = coordinates(Wkb.decode(x.getAs[Array[Byte]]("merc")))
          val exp = coordinates(g).map { case (lo, la) => Reference.merc(lo, la) }
          !(java.util.Arrays.equals(x.getAs[Array[Byte]]("clipped"), Reference.clipWkb(g, lines.box(i))) &&
            java.util.Arrays.equals(x.getAs[Array[Byte]]("simplified"), Reference.simplifyWkb(g, lines.tol(i))) &&
            merc.length == exp.length && merc.zip(exp).forall { case (a, b) =>
              Reference.close(a._1, b._1) && Reference.close(a._2, b._2) })
        }
        countIs(name, res.count, lines.n) ++
          (if (bad == 0 && got.size == sampled) Nil
           else Seq(s"$name: $bad of ${got.size} sampled rows differ, $sampled expected"))
      }
    })
}

object TileSink {
  def polys(seed: Long): Polys = Inputs.polys(seed, 12000)
  def lines(seed: Long): Lines = Inputs.lines(seed, 30000)
}

/** A bucketed layout written once per pass, then read by several joins. */
final class BucketedReuse(spark: SparkSession, seed: Long, dir: String) extends Workload {
  val name = "bucketed_reuse"
  val pts: Points = points(seed, 60000)
  val rg: Regions = regions(seed, 64)
  private val r = rng(seed, 30)
  private val reads = Seq.fill(4)((pick(r, 4), pick(r, 4)))
  private val sPts = pick(r, 997)
  private val covers: Long = (0 until rg.n).map(j =>
    Slippy.fromBounds(5, rg.minx(j), rg.miny(j), rg.maxx(j), rg.maxy(j)).size.toLong).sum

  def generate(): Unit = {
    writePoints(spark, pts, s"$dir/lineitem.parquet")
    writeRegions(spark, rg, s"$dir/regions.parquet")
  }

  def inputDigest: Long = digestOf(Seq(pts.pid.toSeq, rg.minx.toSeq, rg.miny.toSeq))

  /** (files, bytes) of the `ext` files under `path` */
  private def du(path: String, ext: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val files = fs.iterator().asScala.filter(_.toString.endsWith(ext)).toSeq
      (files.size.toLong, files.map(java.nio.file.Files.size).sum)
    } finally fs.close()
  }

  /** files written and bytes written ÷ bytes of the input tables, from the last write */
  var written: (Long, Double) = (0L, 0.0)

  private def readOp(i: Int) = {
    val (dropP, dropR) = reads(i)
    new Op(s"pip_bucketed_$i", "pip_bucketed", pts.n + covers) {
      private lazy val exp = Reference.pip(pts, j => !dropP(pts.pid(j)), rg, id => !dropR(id))
      def plan(): DataFrame =
        SpatialJoin.pipJoinBucketed(spark, "pb_points", "pb_regions", "cell5", "lon", "lat", "poly")
          .filter(!dropP.col(col("pid")) && !dropR.col(col("region_id")))
          .select(col("pid"), col("region_id"))
      def key: Column = sPts.col(col("pid"))
      def check(res: Sink.Result): Seq[String] =
        countIs(name, res.count, exp.size) ++
          comparePairs(name, pairs(res.sample, "pid", "region_id"), exp.filter(x => sPts(x._1)))
    }
  }

  val ops: Seq[Op] = new Op("write_bucketed", "write_bucketed", pts.n + rg.n) {
    def plan(): DataFrame = Synth.points(spark, dir)
      .withColumn("cell5", st_cell_at(col("lon"), col("lat"), lit(5)))
      .select(col("pid"), col("lon"), col("lat"), col("cell5"))
    def key: Column = lit(false)
    override def exec(points: DataFrame): Sink.Result = {
      val regions = spark.read.parquet(s"$dir/regions.parquet")
        .withColumn("poly", st_box_polygon(col("minx"), col("miny"), col("maxx"), col("maxy")))
        .withColumn("cell5", explode(st_tiles_for_bounds(col("minx"), col("miny"),
          col("maxx"), col("maxy"), lit(5))))
        .select(col("region_id"), col("poly"), col("cell5"))
      CatalogIO.writeBucketed(points, "pb_points", "cell5", 16)
      CatalogIO.writeBucketed(regions, "pb_regions", "cell5", 16)
      Sink.Result(-1, 0, Nil)
    }
    def check(res: Sink.Result): Seq[String] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val (files, bytes) = Seq("pb_points", "pb_regions").map(t => du(s"$wh/$t", ".parquet"))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val inBytes = Seq("lineitem", "regions").map(t => du(s"$dir/$t.parquet", ".parquet")._2).sum
      written = (files, bytes.toDouble / inBytes)
      countIs("pb_points", spark.table("pb_points").count(), pts.n) ++
        countIs("pb_regions", spark.table("pb_regions").count(), covers)
    }
  } +: (0 until 4).map(readOp)
}
