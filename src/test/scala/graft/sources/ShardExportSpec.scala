package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The written shards must BE what the manifest (q120's dataflow) says:
  * same doc partition, same within-shard order, nothing lost or
  * duplicated.
  */
class ShardExportSpec extends SparkSpec {

  test("written shards match the manifest: partition, order, completeness") {
    val docs = Tables.documents(spark, sf001)
    val out = graft.streaming.TempDirs.create("shard_export").toString
    val n = 4
    ShardExport.write(docs, "doc_id", out, nShards = n, seed = "graft")

    val man = ShardExport.manifest(
        docs, "doc_id", size(split(col("text"), " ")), nShards = n, seed = "graft")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(man.keySet == (0 until n).toSet)

    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").distinct().count() == docs.count())

    (0 until n).foreach { shard =>
      val ids = spark.read.parquet(s"$out/shard=$shard")
        .withColumn("__h", ShardExport.shuffleHash(col("doc_id"), "graft"))
        .orderBy("__h", "doc_id")
        .select(col("doc_id").cast("string"))
        .collect().map(_.getString(0))
      val (nDocs, seqMd5) = man(shard)
      assert(ids.length == nDocs, s"shard $shard count")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(ids.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(digest == seqMd5, s"shard $shard order digest")
    }
  }

  test("export is reproducible: same seed -> identical manifest; new seed -> different shuffle") {
    val docs = Tables.documents(spark, sf001)
    def m(seed: String) = ShardExport.manifest(
        docs, "doc_id", size(split(col("text"), " ")), nShards = 4, seed = seed)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(3))).toSeq
    assert(m("graft") == m("graft"))
    assert(m("graft") != m("graft2"))
  }
}
