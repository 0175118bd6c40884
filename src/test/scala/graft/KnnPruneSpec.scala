package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Slippy
import graft.operators.{CacheBin, Knn}

/** The kNN plan's three branches (certified 3×3 block, disc ring,
  * brute-force fallback for fewer than k candidates) gated against
  * unconditional brute force on inputs CRAFTED to drive each branch:
  * sparse cells at a deep z, boundary-clamped latitudes, repeated query
  * and point ids, and a tie on a tile edge. Plus the plan's shape: no job
  * before the action, a bounded job count, no persist, one points shuffle.
  */
class KnnPruneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bruteKnn(qs: DataFrame, pts: DataFrame, k: Int): DataFrame = {
    val d2 = (col("qlon") - col("lon")) * (col("qlon") - col("lon")) +
      (col("qlat") - col("lat")) * (col("qlat") - col("lat"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("nid").asc)
    pts.join(broadcast(qs), col("qid") =!= col("pid"))
      .select(col("qid"), col("pid").as("nid"), d2.as("dist2"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.count() == want.count(), s"$what: row count")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"$what diverges from brute force")
  }

  /** sparse deterministic scatter: ~1 point per deep-z cell, so the 3×3
    * margin certification FAILS for most queries. Plus boundary-clamped
    * rows (|lat| > 85.05 lives in tile row 0/maxT).
    */
  private def sparsePts = {
    import spark.implicits._
    val scatter = (0L until 120L).map { i =>
      (i, (i * 0.618033988749895 % 1.0) * 340.0 - 170.0,
          (i * 0.414213562373095 % 1.0) * 160.0 - 80.0)
    }
    val polar = Seq((200L, 12.0, 89.0), (201L, 12.4, 88.5), (202L, -9.0, -89.2),
                    (203L, -9.3, -88.8), (204L, 179.9, 1.0), (205L, -179.8, 1.2))
    (scatter ++ polar).toDF("pid", "lon", "lat")
  }

  /** z = 4 scene driving all three branches with repeated ids:
    *  - a dense cluster (certified), one of its points stored twice and
    *    one of its queries asked twice;
    *  - an edge query (qid 900) whose 3rd candidate ties, at exactly
    *    sqrt(bound_d2), with a point on the smallest longitude of tile
    *    column 8. The unpadded disc box ends just short of that column.
    *    A query asked twice (qid 901) in the same block stays uncertified:
    *    its doubled candidates put the kth beyond the block margin;
    *  - a polar query (qid 500, asked twice) with one point in its block;
    *    the scatter fills the rest of the globe outside the scene.
    */
  private object Scene {
    val z = 4
    // smallest longitude that lon2Num maps to column 8 (the FloatVariance
    // shift puts it just below 0.0)
    val edgeLon: Double = {
      var (lo, hi) = (-1e-3, 1e-3)
      var mid = (lo + hi) / 2
      while (mid != lo && mid != hi) {
        if (Slippy.lon2Num(z, mid) == 8) hi = mid else lo = mid
        mid = (lo + hi) / 2
      }
      hi
    }
    val qlon: Double = edgeLon - 23.0
    val bound: Double = (qlon - edgeLon) * (qlon - edgeLon)

    def frames: (DataFrame, DataFrame) = {
      import spark.implicits._
      val scatter = sparsePts.as[(Long, Double, Double)].collect().toSeq
        .filterNot { case (_, lon, lat) =>
          (lon > -75 && lon < 25 && lat > -50 && lat < 40) || (lon > 110 && lat > 50) }
      val cluster = (300L until 340L).map(i =>
        (i, 100.0 + (i % 7) * 0.05, 40.0 + (i % 11) * 0.04))
      val edge = Seq((401L, edgeLon, 0.0), (410L, qlon, -1.0), (411L, qlon, -2.0),
        (412L, qlon, -math.sqrt(bound)))
      val polar = Seq((500L, 150.0, 89.0), (501L, 150.4, 88.5))
      val pts = (scatter ++ cluster ++ cluster.take(1) ++ edge ++ polar).toDF("pid", "lon", "lat")
      val qs = (cluster.filter(_._1 % 5 == 0) ++ cluster.take(1) ++
          Seq((900L, qlon, 0.0), (901L, -44.9, -20.0), (901L, -44.9, -20.0)) ++
          polar.take(1) ++ polar.take(1) ++ scatter.filter(_._1 >= 200L))
        .toDF("qid", "qlon", "qlat")
      (qs, pts)
    }
  }

  test("fallback chain stays exact on sparse + boundary-clamped inputs") {
    val pts = sparsePts
    val qs = pts.filter(col("pid") % 3 === 0)
      .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    // deep z => ~every query misses k candidates in its block
    assertSame(Knn.knnJoin(qs, pts, k = 3, z = 10), bruteKnn(qs, pts, 3), "deep-z kNN")
  }

  test("repeated qid and pid: every branch matches brute force, tile-edge tie included") {
    import Scene._
    val (qs, pts) = frames
    // premises: the tie is exact, and the unpadded disc box would stop one
    // column short of the tied point
    assert(bound == (qlon - qlon) * (qlon - qlon) + (0.0 + math.sqrt(bound)) * (0.0 + math.sqrt(bound)))
    assume(Slippy.lon2Num(z, qlon + math.sqrt(bound)) < Slippy.lon2Num(z, edgeLon))
    val Seq(certified, ring, fallback) = Knn.branches(qs, pts, 3, z)
    def qids(df: DataFrame) = df.select("qid").distinct().collect().map(_.getLong(0)).toSet
    assert(qids(certified).contains(300L), "cluster query not certified")
    assert(qids(ring).contains(900L) && qids(ring).contains(901L), "edge queries not in the ring")
    assert(qids(fallback).contains(500L), "polar query not in the fallback")
    // repeated query rows repeat their candidates, as brute force does
    assert(certified.filter(col("qid") === 300L).count() == 3)
    assert(certified.filter(col("qid") === 300L).select("nid").distinct().count() < 3)
    assert(ring.filter(col("qid") === 901L).select("nid").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(411L, 412L, 412L))
    assert(fallback.filter(col("qid") === 500L).select("nid").distinct().count() < 3)
    // the tied edge point wins on its smaller id
    val third = ring.filter(col("qid") === 900L && col("rk") === 3).select("nid")
    assert(third.collect().map(_.getLong(0)).toSeq == Seq(401L))
    assertSame(Knn.knnJoin(qs, pts, k = 3, z = z), bruteKnn(qs, pts, 3), "scene kNN")
  }

  test("prune plan construction launches no Spark jobs (collect barrier gone)") {
    val (qs, pts) = Scene.frames
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    CacheBin.drain()
    spark.sparkContext.addSparkListener(l)
    try {
      val df = Knn.knnJoin(qs, pts, k = 3, z = Scene.z)
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0,
        s"plan construction ran ${jobs.get()} Spark job(s) — a collect barrier is back")
      // one action over the whole DAG: one job per query stage, all
      // three branches live
      df.collect()
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() <= 10, s"the kNN action ran ${jobs.get()} jobs")
      assert(CacheBin.drain() == 0, "the kNN plan registered a persist")
      // the candidate join and the ring join read ONE points shuffle
      val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val pointsExchange = ("""ReusedExchange \[pid#\d+L, lon#\d+, lat#\d+, tx#\d+L, ty#\d+L\], """ +
        """Exchange hashpartitioning\(tx""").r
      assert(pointsExchange.findAllIn(finalPlan).size == 1,
        s"the ring join does not reuse the points exchange:\n$finalPlan")
      assertSame(df, bruteKnn(qs, pts, 3), "acted-on kNN")
    } finally {
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("boundary cells leave their range side OPEN (clamped coords survive)") {
    val pts = sparsePts
    // query next to the north-clamp row: its disc box reaches past
    // 85.05112, whose tile row clamps to 0 — pids 200 (lat 89) and 201
    // (lat 88.5) must both be found by the ring
    import spark.implicits._
    val qs = Seq((1L, 12.1, 84.3)).toDF("qid", "qlon", "qlat")
    val z = 6
    assume(Slippy.lat2Num(z, 84.3) == 1, "test premise: query in tile row 1")
    val Seq(_, ring, _) = Knn.branches(qs, pts, 2, z)
    assert(ring.select("nid").collect().map(_.getLong(0)).toSet == Set(200L, 201L))
    assertSame(Knn.knnJoin(qs, pts, 2, z), bruteKnn(qs, pts, 2), "clamped-row kNN")
  }

  test("empty uncertified set collapses the fallback scan to nothing") {
    import spark.implicits._
    // a regular 0.1° lattice: every interior query has 4 points at 0.1°,
    // far inside its z6 block, so all are certified
    val pts = (for (i <- 0 until 40; j <- 0 until 40)
      yield ((i * 40 + j).toLong, 10.0 + i * 0.1, 10.0 + j * 0.1)).toDF("pid", "lon", "lat")
    val qs = pts.filter(col("pid") % 41 === 0 && col("lon") > 10.5 && col("lat") > 10.5)
      .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    val df = Knn.knnJoin(qs, pts, k = 3, z = 6)
    assertSame(df, bruteKnn(qs, pts, 3), "certified-only kNN")
    df.collect()
    // the ring and the broadcast brute-force pass never ran: AQE replaced
    // them by empty relations once their inputs came back empty
    val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("EmptyRelation") && !finalPlan.contains("BroadcastNestedLoopJoin"),
      s"the empty fallback still plans its points scan:\n$finalPlan")
  }
}
