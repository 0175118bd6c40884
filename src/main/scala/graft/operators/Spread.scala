package graft.operators

import org.apache.spark.sql.DataFrame

/** Kernel-stage parallelism guard (round 7; guide §2.5/§6 input-split
  * sizing): when a frame's scan yields FEWER splits than cores, a heavy
  * per-row kernel chain (WKT parse, makevalid, candidate-join probe,
  * command encode) runs on those few tasks while the rest of the machine
  * idles — the round-7 stage logs showed the q21 candidate stage at
  * 3 tasks / 12.9 s CPU on a 32-core host. One conditional round-robin
  * redistribution before the kernels fixes that; on a real cluster the
  * scan carries ≫ cores splits and the CONDITION (not the repartition)
  * is what survives the 100× scale-up — the exchange never fires there.
  *
  * The one spread helper: SparkEntry's kernel-heavy gates and the
  * SpatialJoin / Curation / Dedup / DocsTable kernel stages all call it.
  */
object Spread {

  def forKernels(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch sizing is the stream's job
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // metadata-only split estimate (no planning pass, NO JOB — df.rdd is
    // off-limits here: under AQE, building the RDD materializes every
    // query stage in the subtree, i.e. runs Spark jobs at plan-build
    // time, which is exactly the barrier class this round removed): the
    // scan's split count is bounded below by max(#files, bytes/maxPart).
    // Non-file frames fall back to optimizer stats: LocalRelations carry
    // their true size (→ spread fires for the small in-memory frames the
    // specs use); sources with the huge defaultSizeInBytes conservatively
    // skip the spread rather than pay a plan-time job to find out.
    // a frame that already carries an explicit repartition (its own
    // spread, or a caller's keyed redistribution) is already at kernel
    // width — re-spreading would pay a SECOND exchange of the (possibly
    // much wider) generated columns for nothing
    val plan = df.queryExecution.optimizedPlan
    val alreadyRepartitioned = plan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.isDefined
    if (alreadyRepartitioned) return df
    val nFiles = df.inputFiles.length
    val bytes = plan.stats.sizeInBytes
    val maxPart = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    // clamp before .toLong: joins over sources with the huge default size
    // multiply BigInt stats past the Long range, and a wrapped estimate
    // would read as "few splits" and add a useless exchange mid-plan
    val byBytes = (bytes / maxPart).min(BigInt(Long.MaxValue)).toLong
    val estSplits = math.max(nFiles.toLong, byBytes)
    if (estSplits < cores) df.repartition(cores) else df
  }
}
