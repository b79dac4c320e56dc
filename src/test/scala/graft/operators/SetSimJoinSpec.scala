package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SetSimJoinSpec extends SparkSpec {

  private def mkSets(rows: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "s").select(col("id"), array_distinct(col("s")).as("s"))
  }

  private def brute(rows: Seq[(Long, Seq[String])], t: Double): Set[(Long, Long)] = {
    val m = rows.map { case (id, s) => id -> s.distinct.toSet }
    (for {
      (ia, sa) <- m; (ib, sb) <- m if ia < ib && sa.nonEmpty && sb.nonEmpty
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= t
    } yield (ia, ib)).toSet
  }

  private def run(rows: Seq[(Long, Seq[String])], t: Double): Set[(Long, Long)] =
    SetSimJoin.jaccardJoin(mkSets(rows), "id", "s", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("matches brute force on random sets across thresholds") {
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 60).map(i => s"t$i")
    val rows = (0L until 80L).map { id =>
      val n = 3 + rnd.nextInt(12)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    }
    for (t <- Seq(0.3, 0.5, 0.8))
      assert(run(rows, t) == brute(rows, t), s"threshold $t")
  }

  test("identical sets join at jaccard 1.0; disjoint and empty never join") {
    val rows = Seq(
      1L -> Seq("a", "b", "c"),
      2L -> Seq("c", "b", "a"),
      3L -> Seq("x", "y", "z"),
      4L -> Seq.empty[String])
    val got = SetSimJoin.jaccardJoin(mkSets(rows), "id", "s", 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == 1.0)
  }

  test("near-miss below threshold is excluded, at threshold included") {
    // |A∩B| = 2, |A∪B| = 4 -> J = 0.5 exactly
    val rows = Seq(1L -> Seq("a", "b", "c"), 2L -> Seq("a", "b", "d"))
    assert(run(rows, 0.5) == Set((1L, 2L)))
    assert(run(rows, 0.51).isEmpty)
  }

  test("exact-boundary threshold with FP-hostile t*n is not over-pruned") {
    // J(A,B) = 7/100 = 0.07 exactly, and 0.07*100 = 7.000000000000001 in
    // doubles: a plain ceil in the length filter demanded |B| >= 8 and
    // silently dropped the qualifying pair (review finding)
    val a = (1 to 100).map(i => s"t$i")
    val b = (1 to 7).map(i => s"t$i")
    val rows = Seq(1L -> a, 2L -> b)
    assert(run(rows, 0.07) == Set((1L, 2L)))
    assert(run(rows, 0.0701).isEmpty)
  }

  test("brute parity across FP-hostile thresholds") {
    // thresholds whose t*n products land just off exact integers in IEEE
    // doubles — the class of inputs the ceilSafe guard exists for
    val rnd = new scala.util.Random(29)
    val vocab = (0 until 40).map(i => s"v$i")
    val rows = (0L until 60L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    }
    for (t <- Seq(0.07, 0.1, 1.0 / 3, 0.14, 2.0 / 3, 0.9))
      assert(run(rows, t) == brute(rows, t), s"threshold $t")
  }

  test("df cap off (default) is byte-identical to the exact path") {
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 25).map(i => s"v$i")
    val rows = (0L until 50L).map { id =>
      id -> Seq.fill(4 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
    }
    assert(run(rows, 0.5) == brute(rows, 0.5))
  }

  test("candidate generation is a hash join, not a cross product") {
    val rows = (0L until 30L).map(id => id -> Seq(s"u$id", "shared"))
    val plan = SetSimJoin.jaccardJoin(mkSets(rows), "id", "s", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }
}
