package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GeomFunctions._

/** Exact k-nearest-neighbor join (reference kd-tree kNN semantics,
  * planar/index/kdtree + SURVEY.md §2.13): for every query row, the k
  * points with the smallest squared Euclidean distance in lon/lat degree
  * space (planar.PointDistance2), ties broken by point id, a point never
  * being its own neighbor (`qid <> pid`).
  *
  * The operator is ONE plan on ONE grid zoom `z` with ONE points frame
  * keyed by slippy cell `(tx, ty)`. It has no persist and runs no job
  * before the caller's action; every branch is exact on its own, and the
  * three branches partition the query rows:
  *
  *  1. 3×3 block join. Each query row is replicated to its 3×3 cell block
  *     and equi-joined to the points on `(tx, ty)`; a `row_number` window
  *     keeps the k nearest candidates per qid (Catalyst plans it as a
  *     map-side partial top-k below the qid exchange). The same window
  *     yields `certified` — k candidates, the kth no farther than the
  *     block margin — and `bound_d2`, the kth candidate distance². A
  *     certified answer is exact: every point outside the block is at
  *     least the margin away, so none can beat the kth candidate.
  *  2. Disc ring. An uncertified qid with k candidates has a bound: the
  *     k candidates lie within `r = sqrt(bound_d2)`, so every true
  *     neighbor does too. Its query rows join exactly the cells covering
  *     that disc's bounding box (tile ranges of `qlon ∓ r`, `qlat ± r`,
  *     with `r` padded so that rounding cannot drop a point on the disc
  *     edge) and keep the box's top k. The k candidates are in the box and
  *     any point outside it is farther than all of them, so the answer is
  *     exact and the branch is terminal.
  *  3. Fewer than k candidates. Those query rows (a near-empty region at
  *     this zoom) go to the broadcast brute-force pass; when there are
  *     none, AQE collapses the branch before its points scan runs.
  *
  * A repeated qid is the same query repeated, as in the brute-force
  * definition: every pair of each of its rows is ranked in one qid
  * partition, so its k nearest include the duplicated candidates. This is
  * why the ring and the fallback start from the query ROWS joined to the
  * per-qid state, never from one ranked row per qid.
  *
  * The points are scanned and shuffled once, and the query rows are read
  * twice: exploded for the block, and as rows for the ring and the
  * fallback, which share one frame of them. Every consumer of the ranked frame
  * reads `rk` and `certified`, so all of them need the same columns below
  * the window (qid, nid, dist2, m2) and ReuseExchange shares one
  * candidate stage; a consumer that skipped `certified` would prune `m2`,
  * get an exchange of its own and re-run the candidate join. Both joins to
  * the points are shuffled hash joins on `(tx, ty)` over the same points
  * frame, so the ring reuses the points exchange; left to itself, AQE
  * would broadcast a small query side and scan the points once per join.
  * The cell shuffle also concentrates each query's candidates, so the
  * partial top-k caps the qid exchange at O(k · |queries| · partitions).
  */
object Knn {

  /** pick a grid zoom targeting ≤ ~15 points per cell: deep enough that
    * the candidate join stays small, shallow enough that the 3×3 block
    * margin certifies nearly every query. The ceiling of log4(n/15) lands
    * 3.75-15 points per cell, so a 3×3 block still holds 34-135 points,
    * far above k. Exactness never depends on z.
    */
  def zoomFor(nPoints: Long): Int = {
    val cellsWanted = math.max(1.0, nPoints / 15.0)
    val z = math.ceil(math.log(cellsWanted) / math.log(4.0)).toInt
    math.max(3, math.min(12, z))
  }

  /** Max parquet footers opened serially on the driver. Beyond the cap a
    * deterministic stride-sample of footers is read and extrapolated by
    * file count: the zoom only needs the row count to within a factor of
    * ~2, so a 64-footer sample is far more precision than required.
    */
  private val MaxFooterSamples = 64

  /** Metadata-only row estimate, then `zoomFor` — no Spark job, no scan.
    * For parquet-backed frames the true row count comes from the file
    * footers; other sources fall back to the optimizer's statistics.
    */
  def zoomForPlan(points: DataFrame): Int = {
    val files = points.inputFiles.filter(_.endsWith(".parquet"))
    val rows: Long =
      if (files.nonEmpty) {
        val conf = points.sparkSession.sessionState.newHadoopConf()
        val sampled =
          if (files.length <= MaxFooterSamples) files
          else {
            val stride = files.length.toDouble / MaxFooterSamples
            Array.tabulate(MaxFooterSamples)(i => files((i * stride).toInt))
          }
        val sampleRows = sampled.map(graft.sources.Footers.fileRowCount(_, conf)).sum
        if (sampled.length == files.length) sampleRows
        else math.round(sampleRows.toDouble / sampled.length * files.length)
      } else {
        val stats = points.queryExecution.optimizedPlan.stats
        stats.rowCount.map(_.toLong).getOrElse {
          val rowBytes = math.max(8, points.schema.map(_.dataType.defaultSize).sum)
          (stats.sizeInBytes / rowBytes).toLong
        }
      }
    zoomFor(math.max(1L, rows))
  }

  private def dist2: Column =
    (col("qlon") - col("lon")) * (col("qlon") - col("lon")) +
      (col("qlat") - col("lat")) * (col("qlat") - col("lat"))

  /** the k nearest (dist2, nid) per qid, ranked 1..k */
  private def topK(cand: DataFrame, k: Int): DataFrame =
    cand.withColumn("rk", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("nid").asc)))
      .filter(col("rk") <= k)
      .withColumn("rk", col("rk").cast("long"))

  /** exact brute force for a (small, broadcast) query set */
  private def bruteFull(queries: DataFrame, points: DataFrame, k: Int): DataFrame =
    // no exchange below this join: the points scan runs inside the join's
    // stage, which AQE drops before it runs when the broadcast side is empty
    topK(points.join(broadcast(queries), col("qid") =!= col("pid"))
      .select(col("qid"), col("pid").as("nid"), dist2.as("dist2")), k)

  /** queries(qid, qlon, qlat) × points(pid, lon, lat) → (qid, nid, dist2, rk)
    * on grid zoom `z` (see the object doc for the three steps).
    */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int, z: Int): DataFrame =
    branches(queries, points, k, z).reduce(_ unionByName _)

  /** the three disjoint, individually exact answers: certified 3×3 block
    * results, disc-ring results, and the brute-force fallback
    */
  private[graft] def branches(queries: DataFrame, points: DataFrame, k: Int,
                              z: Int): Seq[DataFrame] = {
    val maxT = (1L << z) - 1
    // the one points frame both joins read: same columns, same key
    val p = points.select(col("pid"), col("lon"), col("lat"),
      st_lon2tile(col("lon"), lit(z)).as("tx"),
      st_lat2tile(col("lat"), lit(z)).as("ty"))
    val qRows = queries.select(col("qid"), col("qlon"), col("qlat"))

    // step 1: 3×3 block candidates. The margin is the distance from the
    // query to the block edge (open at the grid clamp rows/columns), less
    // the tile functions' FloatVariance shift of a cell edge in degrees.
    val (qtx, qty) = (col("qtx"), col("qty"))
    val inf = lit(Double.PositiveInfinity)
    val edge = 2 * graft.core.Slippy.FloatVariance * 360.0 / (256.0 * (1L << z))
    val margin = least(
      when(qtx === 0, inf).otherwise(col("qlon") - st_tile2lon(lit(z), qtx - 1)),
      when(qtx === maxT, inf).otherwise(st_tile2lon(lit(z), qtx + 2) - col("qlon")),
      when(qty === 0, inf).otherwise(st_tile2lat(lit(z), qty - 1) - col("qlat")),
      when(qty === maxT, inf).otherwise(col("qlat") - st_tile2lat(lit(z), qty + 2))) - edge
    // out-of-grid neighbor cells are kept: they match no point, and a range
    // filter here would be inferred onto the points side of the join and
    // make its exchange differ from the ring join's
    val qCells = qRows
      .select(col("qid"), col("qlon"), col("qlat"),
        st_lon2tile(col("qlon"), lit(z)).as("qtx"), st_lat2tile(col("qlat"), lit(z)).as("qty"))
      .select(col("qid"), col("qlon"), col("qlat"),
        (greatest(margin, lit(0.0)) * greatest(margin, lit(0.0))).as("m2"),
        explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
          struct((qtx + dx).as("tx"), (qty + dy).as("ty")))): _*)).as("nb"))
      .select(col("qid"), col("qlon"), col("qlat"), col("m2"),
        col("nb.tx").as("tx"), col("nb.ty").as("ty"))
    val wq = Window.partitionBy(col("qid"))
    val ranked = topK(qCells.hint("shuffle_hash").join(p, Seq("tx", "ty"))
        .filter(col("qid") =!= col("pid"))
        .select(col("qid"), col("pid").as("nid"), dist2.as("dist2"), col("m2")), k)
      .withColumn("n_cand", count(lit(1)).over(wq))
      .withColumn("kth", max(col("dist2")).over(wq))
      .select(col("qid"), col("nid"), col("dist2"), col("rk"),
        (col("n_cand") === k && col("kth") <= col("m2")).as("certified"),
        when(col("n_cand") === k, col("kth")).as("bound_d2"))
    val certified = ranked.filter(col("certified"))
      .select(col("qid"), col("nid"), col("dist2"), col("rk"))
    // every uncertified query ROW with its qid's bound (null: fewer than k
    // candidates, or none at all). Both consumers below read this one frame,
    // so the query rows are exchanged once. The ranked side is already
    // partitioned by qid, so a shuffled hash join adds no stage for it
    // (AQE would otherwise broadcast it). The filter keeps rows with no
    // ranked state, so the outer join stays outer in both consumers.
    val open = qRows
      .join(ranked.filter(col("rk") === 1).select(col("qid"), col("certified"), col("bound_d2"))
        .hint("shuffle_hash"), Seq("qid"), "left_outer")
      .filter(!coalesce(col("certified"), lit(false)))

    // step 2: the disc ring (a null bound explodes to no cells)
    val r = sqrt(col("bound_d2")) * (1 + 1e-9) + 1e-9
    val ring = topK(open
        .select(col("qid"), col("qlon"), col("qlat"),
          explode(sequence(st_lon2tile(col("qlon") - r, lit(z)),
            st_lon2tile(col("qlon") + r, lit(z)))).as("tx"),
          st_lat2tile(col("qlat") + r, lit(z)).as("ty0"),
          st_lat2tile(col("qlat") - r, lit(z)).as("ty1"))
        .select(col("qid"), col("qlon"), col("qlat"), col("tx"),
          explode(sequence(col("ty0"), col("ty1"))).as("ty"))
        .hint("shuffle_hash").join(p, Seq("tx", "ty"))
        .filter(col("qid") =!= col("pid"))
        .select(col("qid"), col("pid").as("nid"), dist2.as("dist2")), k)

    // step 3: query rows with fewer than k candidates in their block
    val sparse = open.filter(col("bound_d2").isNull)
      .select(col("qid"), col("qlon"), col("qlat"))

    Seq(certified, ring, bruteFull(sparse, points, k))
  }

  /** as `knnJoin` but the grid zoom is derived from plan statistics
    * (metadata-only — no extra scan). */
  def knnJoinAuto(queries: DataFrame, points: DataFrame, k: Int): DataFrame =
    knnJoin(queries, points, k, zoomForPlan(points))
}
