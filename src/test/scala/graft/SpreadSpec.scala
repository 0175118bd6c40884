package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Spread
import graft.sources.Synth

class SpreadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def repartitions(df: DataFrame): Seq[RepartitionOperation] =
    df.queryExecution.optimizedPlan.collect { case r: RepartitionOperation => r }

  test("fires on a file scan with fewer splits than cores") {
    val cores = spark.sparkContext.defaultParallelism
    val pts = Synth.points(spark, dir)
    assert(pts.inputFiles.length < cores)
    assert(repartitions(pts).isEmpty)
    val spread = Spread.forKernels(pts)
    assert(repartitions(spread).map(_.numPartitions) == Seq(cores))
    assert(spread.count() == pts.count())
  }

  test("does nothing on an already-repartitioned frame") {
    val keyed = Synth.points(spark, dir).repartition(2)
    assert(Spread.forKernels(keyed) eq keyed)
  }

  test("does nothing on a streaming frame") {
    val stream = spark.readStream.format("rate").load()
    assert(stream.isStreaming)
    assert(Spread.forKernels(stream) eq stream)
  }

  test("does nothing on a cross join whose size estimate overflows Long") {
    import spark.implicits._
    // RDD-backed frames carry the default size (Long.MaxValue), so the
    // cross join's estimate is their product: a bytes/maxPart quotient
    // that wraps negative if narrowed to Long without a clamp
    val a = spark.sparkContext.parallelize(1 to 10, 1).toDF("a")
    val b = spark.sparkContext.parallelize(1 to 10, 1).toDF("b")
    val crossed = a.crossJoin(b)
    assert(crossed.inputFiles.isEmpty)
    assert(crossed.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Long.MaxValue))
    assert(Spread.forKernels(crossed) eq crossed)
  }
}
