package graft

import org.scalatest.funsuite.AnyFunSuite

class JobProfileSpec extends AnyFunSuite {

  test("a streamed job's label is its description on one line") {
    val desc = "\nid = 5e0c\nrunId = 9a1f\nbatch = 2"
    assert(JobProfile.jobLabel(Some(desc), Some("start at StreamHarness.scala:101")) ==
      "id = 5e0c | runId = 9a1f | batch = 2")
  }

  test("a blank or missing description falls back to the stage's call site") {
    val stage = Some("collect at KMeansLloyd.scala:80\norg.apache.spark.sql.Dataset.collect")
    assert(JobProfile.jobLabel(Some(" \n \n"), stage) == "collect at KMeansLloyd.scala:80")
    assert(JobProfile.jobLabel(None, stage) == "collect at KMeansLloyd.scala:80")
    assert(JobProfile.jobLabel(None, None) == "?")
  }
}
