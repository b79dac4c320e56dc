package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Session, Tables}

/** Cost-model demo: measure the SAME equi join (lineitem ⋈ dim on
  * partkey) under Spark's three distributed join strategies at three dim
  * sizes, and report the measured ranking plus the operator each hint
  * actually produced — the decision table a planner (or a user reading
  * PLANS.md) consults before committing a 100 TB join.
  *
  * Usage: runMain graft.plans.JoinStrategyCost [sfDir] [reps]
  * Prints one line per (dim size, strategy): median seconds + operator.
  *
  * What the shapes mean at scale:
  *  - broadcast: no shuffle of the fact side at all — the dim ships to
  *    every executor. Wins while the dim fits comfortably in executor
  *    memory; cost grows with cluster WIDTH (every executor gets a copy).
  *  - shuffle_hash: both sides shuffle on the key, the smaller builds a
  *    hash table per partition — no sort of either side. Wins over SMJ
  *    when one side is much smaller but too big to broadcast, and AQE
  *    can pick it dynamically (localShuffleReader).
  *  - merge (SMJ): both sides shuffle AND sort. The only strategy whose
  *    memory is bounded by spill — the safe default for huge ⋈ huge, and
  *    the one that composes with bucketing (sources.Bucketing removes
  *    its shuffle entirely).
  */
object JoinStrategyCost {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Session.getOrCreate()
    val l = Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_quantity"))

    val part = Tables.part(spark, dir).select(col("p_partkey"))
    val nPart = part.count()
    // three dim sizes from the same table: ~10% of part, all of part,
    // and LargeDimCopies shifted copies (a dim big enough that
    // broadcasting hurts)
    val LargeDimCopies = 64L
    val dims: Seq[(String, DataFrame)] = Seq(
      (s"small(${nPart / 10})", part.filter(col("p_partkey") % 10 === 0)),
      (s"medium($nPart)", part),
      (s"large(${nPart * LargeDimCopies})", spark.range(LargeDimCopies).crossJoin(part)
        .select((col("p_partkey") + col("id") * 10_000_000L).as("p_partkey"))))

    def run(dim: DataFrame, hint: String): (Double, String) = {
      val joined = l.join(dim.hint(hint), col("l_partkey") === col("p_partkey"))
        .agg(sum(col("l_quantity")))
      val op = joined.queryExecution.executedPlan.toString.linesIterator
        .map(_.trim.stripPrefix("+- ").replaceAll("^\\*\\(\\d+\\) ", ""))
        .find(s => s.contains("Join"))
        .map(_.takeWhile(_ != ' ')).getOrElse("?")
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        joined.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (times((reps - 1) / 2), op) // lower median: reps/2 overstates for even reps
    }

    // warmup
    run(part, "merge")
    val hints = Seq("broadcast", "shuffle_hash", "merge")
    dims.foreach { case (label, dim) =>
      dim.cache().count()
      hints.foreach { h =>
        val (sec, op) = run(dim, h)
        println(f"[joincost] dim=$label%-14s strategy=$h%-12s median=$sec%6.3f s  op=$op")
      }
      dim.unpersist()
    }
    spark.stop()
  }
}
