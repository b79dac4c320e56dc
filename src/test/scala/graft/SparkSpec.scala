package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — suites run
  * sequentially in the forked test JVM, so getOrCreate dedupes).
  *
  * Because every suite plans on that one session, a test that changes
  * `spark.conf` and does not put it back changes what every later test
  * plans under. `withFixture` snapshots `spark.conf.getAll` around each
  * test; if the conf differs afterwards it restores the snapshot and
  * fails the test, naming the keys that changed. Flip a conf for a test
  * with `Session.withConf`.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
  lazy val sf001 = "/root/testdata/sf0.001"

  def rows(name: String, dir: String = sf001): Long =
    SparkEntry.queries(name)(spark, dir).count()

  override def withFixture(test: NoArgTest): Outcome = {
    val before = spark.conf.getAll
    val outcome = super.withFixture(test)
    val after = spark.conf.getAll
    val changed = (before.keySet ++ after.keySet).toSeq.sorted.filter(k => before.get(k) != after.get(k))
    if (changed.isEmpty) outcome
    else {
      changed.foreach(k => before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
      val diff = changed.map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
      outcome match {
        case failed: Failed => failed
        case _ => Failed(s"test left spark.conf changed: ${diff.mkString("; ")}")
      }
    }
  }
}
