package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own checks, per workload:
  *   - one seed, two traced passes: identical output digests and row
  *     counts, identical exact listener counters, no failed op;
  *   - a second seed: different inputs, the same ops, the workload's input
  *     rows within 5% of the first seed's, and each op's share of them
  *     within one percentage point.
  */
object SelfTest {

  private def fail(msg: String): Boolean = { println(s"FAIL $msg"); false }

  private def sameRuns(wl: Workload, a: Main.PassStat, b: Main.PassStat): Boolean =
    a.ops.zip(b.ops).map { case (x, y) =>
      val n = s"${wl.name}/${x.op.name}"
      val (tx, ty) = (a.trace.get, b.trace.get)
      def exact(t: Main.Trace) = t.total(x.op.name).exact
      (if (x.ok && y.ok) true else fail(s"$n failed")) &
        (if (x.count == y.count && x.digest == y.digest) true
         else fail(s"$n digests differ: ${(x.count, x.digest)} vs ${(y.count, y.digest)}")) &
        (if (exact(tx) == exact(ty)) true else fail(s"$n counters differ: ${exact(tx)} vs ${exact(ty)}"))
    }.forall(identity)

  private def within(n: String, a: Double, b: Double, tol: Double): Boolean =
    if (math.abs(a - b) <= tol * math.max(a, b)) true else fail(f"$n: $a%.0f vs $b%.0f beyond ${tol * 100}%.0f%%")

  def run(a: Main.Args): Int = {
    val spark = Main.session(a.dir)
    val ok = (if (a.workload.isEmpty) Workload.names else Seq(a.workload)).map { name =>
      val w1 = Workload(name, spark, a.seed, s"${a.dir}/data-$name-1")
      w1.generate()
      Main.runPass(spark, w1, traced = false)
      val (p1, p2) = (Main.runPass(spark, w1, traced = true), Main.runPass(spark, w1, traced = true))
      val w2 = Workload(name, spark, a.seed + 1, s"${a.dir}/data-$name-2")
      w2.generate()
      val p3 = Main.runPass(spark, w2, traced = false)
      val res = sameRuns(w1, p1, p2) &
        (if (w1.inputDigest != w2.inputDigest) true else fail(s"$name: seeds give equal inputs")) &
        (if (w1.ops.map(_.name) == w2.ops.map(_.name)) true else fail(s"$name: op mix differs")) &
        w1.ops.zip(w2.ops).map { case (x, y) =>
          val (sx, sy) = (x.inputRows.toDouble / p1.rows, y.inputRows.toDouble / p3.rows)
          if (math.abs(sx - sy) <= 0.01) true
          else fail(f"$name/${x.name}: ${sx * 100}%.1f%% vs ${sy * 100}%.1f%% of the input rows")
        }.forall(identity) &
        within(s"$name input rows", p1.rows, p3.rows, 0.05) &
        (if (p3.ops.forall(_.ok)) true else fail(s"$name: second seed has failed ops"))
      println(s"${if (res) "PASS" else "FAIL"} $name")
      res
    }.forall(identity)
    spark.stop()
    if (ok) 0 else 1
  }
}
