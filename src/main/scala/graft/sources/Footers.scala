package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}

/** Exact row counts from parquet footer metadata — a driver-side metadata
  * read (~KB per file), NOT a Spark job. Operators whose SCORE depends on
  * the corpus size (tf-idf's N, the IVF fit's √N) previously paid a full
  * count() scan before the real query started; the footer count is the
  * same number for free. Unlike `Knn.zoomForPlan` (which samples 64
  * footers because a zoom pick only needs ~2× precision), this reads ALL
  * footers — the value feeds score arithmetic and must be exact.
  *
  * Footers are read on a bounded driver thread pool (16 threads) up to
  * `spark.graft.footers.distributedThreshold` files (default 4096);
  * beyond that — the 100 TB design point is ~10^5 files, tens of seconds
  * of serialized driver metadata I/O — the counting moves into ONE tiny
  * Spark job over the FILE LIST (round-6 verdict #6: the last driver-side
  * O(files) term). The job reads footers only, never data pages.
  */
object Footers {

  private val PoolSize = 16

  /** row count of one parquet file, read from its footer (no data pages) */
  private[graft] def fileRowCount(file: String,
                                  conf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  private def distributedThreshold(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.graft.footers.distributedThreshold", "4096").toInt

  /** footer counts via a Spark job over the file list — driver work is
    * O(1), footer I/O is cluster-wide. None on any failure (same
    * count() -fallback contract as the pool path).
    */
  private def distributedRowCount(spark: org.apache.spark.sql.SparkSession,
                                  files: Array[String]): Option[Long] = scala.util.Try {
    val bc = spark.sparkContext.broadcast(
      org.apache.spark.graftshim.HadoopConf.serializable(
        spark.sessionState.newHadoopConf()))
    val slices = math.max(1, math.min(files.length,
      spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(files.toIndexedSeq, slices)
      .map(f => fileRowCount(f, bc.value.value))
      .fold(0L)(_ + _)
  }.toOption

  /** true iff every node between the plan root and its leaves preserves
    * row count (Project/alias only) — a Filter, Limit, Sample, Join,
    * Aggregate or Generate anywhere makes file-level counts wrong.
    */
  private def countPreserving(p: LogicalPlan): Boolean = p match {
    case pr: Project => countPreserving(pr.child)
    case _: LeafNode => true
    case _           => false
  }

  /** exact row count of `df` when it is a (projection of a) bare parquet
    * scan; None otherwise — callers fall back to `df.count()`.
    */
  def exactRowCount(df: DataFrame): Option[Long] = {
    if (!countPreserving(df.queryExecution.optimizedPlan)) return None
    val files = df.inputFiles
    if (files.isEmpty || !files.forall(_.endsWith(".parquet"))) return None
    if (files.length > distributedThreshold(df.sparkSession))
      return distributedRowCount(df.sparkSession, files)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(PoolSize, files.length))
    try {
      val futs = files.map { f =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = fileRowCount(f, conf)
        })
      }
      // any footer-read failure (file deleted between planning and read,
      // corrupt footer, transient FS error) means "no exact count" — the
      // documented contract is that callers fall back to df.count(), so
      // return None instead of propagating (round-6 advice)
      scala.util.Try(futs.map(_.get()).sum).toOption
    } finally pool.shutdown()
  }
}
