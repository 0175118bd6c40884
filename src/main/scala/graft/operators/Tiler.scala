package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeomFunctions._

/** Raster↔vector tiler: assigns geometries to the slippy tiles they
  * overlap (reference slippy.FromBounds over the geometry envelope,
  * tile.go:111-145) and joins vector features to raster media references
  * addressed by tile.
  *
  * Scale shape: envelope + tile explosion are per-row expressions (no
  * shuffle); the groupBy(tile) / join(tile) shuffles on the packed long
  * cell id, which also sorts in (z, x, y) reference order. Multi-zoom
  * output is one pass via st_family_at.
  */
object Tiler {

  /** geometries(id, geom WKB) → one row per (id, cell) covering the
    * geometry envelope at zoom z. `srid` picks the grid: 4326 (lon/lat
    * degrees, the docs pipeline) or 3857 (web-mercator meters).
    */
  def assignTiles(geoms: DataFrame, idCol: String, z: Int, srid: Int = 4326): DataFrame =
    withCoverCells(geoms, z, srid).select(col(idCol), col("cell"))

  /** `geoms` with one row per zoom-z tile covering the envelope of `geom`
    * (column "cell", on the `srid` grid). No env-isNotNull filter (round
    * 7, measured): st_tiles_for_bounds is null-intolerant, so a null
    * envelope yields a null cover and explode() drops the row — same
    * output, and the filter's presence made Catalyst evaluate the whole
    * upstream geometry expression TWICE per row (once in the collapsed
    * filter, once in the explode input projection).
    */
  private def withCoverCells(geoms: DataFrame, z: Int, srid: Int): DataFrame = {
    val cover = if (srid == 3857) st_tiles_for_bounds_3857 _ else st_tiles_for_bounds _
    geoms.withColumn("env", st_envelope(col("geom")))
      .withColumn("cell", explode(cover(col("env.minx"), col("env.miny"),
        col("env.maxx"), col("env.maxy"), lit(z))))
  }

  /** per-tile feature counts rolled up across several zooms in one pass:
    * base assignment at the deepest zoom, ancestors via st_family_at.
    */
  def multiZoomCounts(geoms: DataFrame, idCol: String, zooms: Seq[Int]): DataFrame = {
    val deepest = zooms.max
    val base = assignTiles(geoms, idCol, deepest)
    val perZoom = zooms.map { zz =>
      base.select(col(idCol),
        element_at(st_family_at(col("cell"), lit(zz)), 1).as("cell"))
        .distinct() // a geometry may span several children of one ancestor
    }
    perZoom.reduce(_ unionByName _)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_features"))
      .select(st_cell_z(col("cell")).as("z"), st_cell_x(col("cell")).as("x"),
        st_cell_y(col("cell")).as("y"), col("n_features"))
  }

  /** shared map-side sink front: inline cell assignment (explode carries
    * the geometry column — the round-2 assignTiles ⋈ geoms form evaluated
    * the input twice and paid a join shuffle for nothing), tile-space
    * projection, command-stream encode. Emits (cell, …, mvt struct); all
    * per-row expressions, no shuffle.
    */
  private def mvtPrep(geoms: DataFrame, z: Int, srid: Int): DataFrame = {
    val withCell = withCoverCells(geoms, z, srid)
    val prepped =
      if (srid == 3857)
        withCell
          .withColumn("te", st_tile_extent_3857(st_cell_z(col("cell")),
            st_cell_x(col("cell")), st_cell_y(col("cell"))))
          .withColumn("prep", st_prepare_extent(col("geom"),
            col("te.minx"), col("te.miny"), col("te.maxx"), col("te.maxy")))
      else
        withCell.withColumn("prep", st_prepare_tile(col("geom"), col("cell")))
    prepped.withColumn("mvt", st_mvt_geometry(col("prep")))
  }

  /** Full MVT tile sink: geometries → per-tile protobuf bytes, one layer
    * named `layerName`. Pipeline: envelope tile assignment (explode) →
    * per-row tile-space projection + command-stream encode (scalar
    * expressions, codegen pipeline, no shuffle) → ONE shuffle grouping by
    * the packed cell id → streaming tile assembly (`assembleTiles`).
    * Emits (z, x, y, mvt binary).
    *
    * Extra property columns ride the same shuffle as typed tag values
    * (MvtTile.TagValue.of per the Spark column type — string/int/double/
    * bool/…, reference layer.go:133-190); "fid" stays the first tag, so
    * with propCols = Nil the tile bytes are unchanged. NULL props are
    * dropped per-feature like the reference drops nil tags.
    */
  def mvtTiles(spark: org.apache.spark.sql.SparkSession, geoms: DataFrame,
               idCol: String, z: Int, layerName: String, srid: Int = 4326,
               propCols: Seq[String] = Nil): DataFrame =
    assembleTiles(spark, mvtPrep(geoms, z, srid), idCol, Left(layerName), propCols)

  /** Multi-LAYER MVT tile sink (reference tile.go: a Tile holds repeated
    * Layer messages): `mvtTiles` with `layerCol` naming each feature's
    * layer. Layers appear in layer-name order (deterministic bytes).
    */
  def mvtTilesLayered(spark: org.apache.spark.sql.SparkSession, geoms: DataFrame,
                      idCol: String, z: Int, layerCol: String,
                      srid: Int = 4326): DataFrame =
    assembleTiles(spark, mvtPrep(geoms, z, srid), idCol, Right(layerCol), Nil)

  /** Streaming tile assembly shared by both sinks. Features are shuffled
    * by cell and sorted within partitions by (cell, fid), or (cell, layer,
    * fid) when the layer is a column, so a tile's bytes never depend on
    * shuffle arrival order: the byte-level gates and exact checkpoint
    * resume need that. One forward walk per partition emits one tile per
    * cell, streaming each consecutive layer run through the layer encoder
    * and framing the finished layers into the tile. Per-tile memory stays
    * bounded at the output bytes + one layer's key/value maps (never the
    * feature list); the per-feature heavy work (projection + command
    * encode) ran map-side before the shuffle, and the grouping is Spark's
    * spillable sort, not an in-memory hash group.
    *
    * `layer` is the fixed layer name (Left) or the layer column (Right);
    * a fixed name adds no column to the shuffle.
    */
  private def assembleTiles(spark: org.apache.spark.sql.SparkSession, prepped: DataFrame,
                            idCol: String, layer: Either[String, String],
                            propCols: Seq[String]): DataFrame = {
    import spark.implicits._
    import graft.core.{MvtTile, Slippy}
    val byLayer = layer.isRight
    val name = layer.merge // the fixed layer name, or the layer column
    val layerCols = if (byLayer) Seq(col(name).cast("string").as("layer")) else Nil
    val sortKeys = if (byLayer) Seq("cell", "layer", "fid") else Seq("cell", "fid")
    // row layout: cell, fid, commands, gtype, [layer], props…
    val nFixed = 4 + layerCols.length
    val propNames = propCols.toIndexedSeq
    prepped
      .select(Seq(col("cell"), col(idCol).cast("string").as("fid"),
        col("mvt.commands").as("commands"), col("mvt.geom_type").as("gtype")) ++
        layerCols ++ propCols.map(col): _*)
      .repartition(col("cell"))
      .sortWithinPartitions(sortKeys.map(col): _*)
      .mapPartitions { it =>
        val buf = it.buffered
        def layerOf(r: org.apache.spark.sql.Row): String =
          if (byLayer) r.getString(4) else name
        new Iterator[(Int, Long, Long, Array[Byte])] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Int, Long, Long, Array[Byte]) = {
            val cell = buf.head.getLong(0)
            val layers = Vector.newBuilder[Array[Byte]]
            while (buf.hasNext && buf.head.getLong(0) == cell) {
              val layerName = layerOf(buf.head)
              var i = 0L
              val featIt = new Iterator[MvtTile.Feature] {
                def hasNext: Boolean = buf.hasNext &&
                  buf.head.getLong(0) == cell && layerOf(buf.head) == layerName
                def next(): MvtTile.Feature = {
                  val r = buf.next()
                  i += 1
                  // zero-copy: the row holds the command longs in a primitive
                  // array (ArraySeq.ofLong) — rewrap instead of boxing a copy
                  // (the round-3 micro-pass invariant, kept on the Row path)
                  val cmds: IndexedSeq[Long] = r.getSeq[Long](2) match {
                    case as: scala.collection.immutable.ArraySeq[Long] => as
                    case other => other.toIndexedSeq
                  }
                  val props = Vector.newBuilder[(String, MvtTile.TagValue)]
                  props += (("fid", MvtTile.TagValue.VString(r.getString(1))))
                  var p = 0
                  while (p < propNames.length) {
                    val v = r.get(nFixed + p)
                    if (v != null) props += ((propNames(p), MvtTile.TagValue.of(v)))
                    p += 1
                  }
                  MvtTile.Feature(i, r.getInt(3), cmds, props.result())
                }
              }
              layers += MvtTile.encodeLayerStream(layerName, featIt)
            }
            val bytes = MvtTile.encodeTileFromLayerBytes(layers.result())
            (Slippy.unpackZ(cell), Slippy.unpackX(cell), Slippy.unpackY(cell), bytes)
          }
        }
      }
      .toDF("z", "x", "y", "mvt")
  }

  /** Rasterize: points → per-tile pixel occupancy at `res`×`res` pixels per
    * z-tile. Pixel math is the slippy projection carried 8 more zoom levels
    * (res=256 ⇒ a z pixel IS a z+8 tile), so the whole stage is the same
    * map-only vectorized cell encode as tile assignment — no shuffle until
    * the occupancy groupBy on (cell, py, px).
    */
  def rasterizePoints(pts: DataFrame, z: Int, res: Int = 256): DataFrame = {
    require(res > 0 && (res & (res - 1)) == 0, "res must be a power of two")
    val extraZ = (math.log(res.toDouble) / math.log(2.0)).round.toInt
    val fine = st_cell_at(col("lon"), col("lat"), lit(z + extraZ))
    pts
      .withColumn("cell", st_cell_at(col("lon"), col("lat"), lit(z)))
      .withColumn("px", (st_cell_x(fine) - st_cell_x(col("cell")) * res).cast("int"))
      .withColumn("py", (st_cell_y(fine) - st_cell_y(col("cell")) * res).cast("int"))
      .groupBy(col("cell"), col("py"), col("px"))
      .agg(count(lit(1)).as("n"))
  }

  /** Vectorize step 1 — horizontal runs: merge adjacent occupied pixels of
    * one tile row into [px0, px1] spans (gaps-and-islands: px − row_number
    * is constant within a run). One window + one groupBy, both on the
    * (cell, py) key — integer arithmetic, exactly mirrorable in SQL.
    */
  def rasterRuns(raster: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"), col("py")).orderBy(col("px").asc)
    raster
      .withColumn("isl", col("px") - row_number().over(w))
      .groupBy(col("cell"), col("py"), col("isl"))
      .agg(min(col("px")).as("px0"), max(col("px")).as("px1"),
        sum(col("n")).as("n_pts"))
      .drop("isl")
  }

  /** Vectorize step 2 — greedy vertical merge of identical [px0, px1] runs
    * on consecutive rows into rectangles, then rectangles → pixel-space
    * polygons (x0, y0, x1, y1 in the tile's res-pixel grid). Per-tile
    * sequential kernel over sorted runs (embarrassingly parallel across
    * tiles, like the makevalid kernel).
    */
  def vectorizeRaster(spark: org.apache.spark.sql.SparkSession,
                      runs: DataFrame): DataFrame = {
    import spark.implicits._
    runs.select(col("cell"), col("py"),
        col("px0").cast("long"), col("px1").cast("long"))
      .as[(Long, Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val rs = it.map { case (_, py, p0, p1) => (py, p0, p1) }.toArray
          .sortBy { case (py, p0, _) => (py, p0) }
        // open rectangles keyed by (px0, px1): extend when the next row
        // repeats the exact span, else close
        val open = scala.collection.mutable.LinkedHashMap[(Long, Long), (Int, Int)]()
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Long, Int)]()
        var row = Int.MinValue
        def closeStale(currentRow: Int): Unit = {
          val stale = open.filter { case (_, (_, last)) => last < currentRow - 1 }
          stale.foreach { case (k @ (p0, p1), (y0, y1)) =>
            out += ((cell, p0, y0, p1, y1)); open.remove(k)
          }
        }
        for ((py, p0, p1) <- rs) {
          if (py != row) { closeStale(py); row = py }
          open.get((p0, p1)) match {
            case Some((y0, _)) => open((p0, p1)) = (y0, py)
            case None          => open((p0, p1)) = (py, py)
          }
        }
        open.foreach { case ((p0, p1), (y0, y1)) => out += ((cell, p0, y0, p1, y1)) }
        out.iterator
      }
      .toDF("cell", "x0", "y0", "x1", "y1")
  }

  /** Raster↔vector join: vector points keyed by their z15 cell meet media
    * spans keyed by the tile encoded in their media_ref
    * ("media://tile/{z}/{x}/{y}#{n}").
    */
  def rasterVectorJoin(vectorPts: DataFrame, mediaRefs: DataFrame): DataFrame = {
    val vec = vectorPts.withColumn("cell",
      st_cell_at(col("lon"), col("lat"), lit(15)))
    val ras = mediaRefs
      .withColumn("parts", split(regexp_replace(col("media_ref"), "^media://tile/", ""), "[/#]"))
      .select(col("ras_id"),
        shiftleft(element_at(col("parts"), 1).cast("long"), 58)
          .bitwiseOR(shiftleft(element_at(col("parts"), 2).cast("long"), 29))
          .bitwiseOR(element_at(col("parts"), 3).cast("long")).as("cell"))
    vec.join(ras, Seq("cell"))
  }
}
