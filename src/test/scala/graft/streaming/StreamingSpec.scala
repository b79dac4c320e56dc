package graft.streaming

import graft.{Session, SparkSpec}
import graft.registry.Registry

class StreamingSpec extends SparkSpec {

  test("streaming tumbling agg equals batch tumbling agg (bounded input)") {
    val stream = EventStreams.tumblingCounts(spark, sf001).collect()
    val batch = Registry.queries("q30_tumbling_window")(spark, sf001).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  test("streaming sliding trend equals the batch sliding count + top-3 finisher (q162)") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.slidingTrending(spark, sf001).collect()
    // batch replay: every event in both its 2h windows, top-3 per window
    val e = graft.Tables.events(spark, sf001)
    val batch = e
      .select(explode(array(lit(0), lit(1))).as("k"), col("ts"), col("event_type"))
      .select((date_trunc("hour", col("ts")).cast("long") - col("k") * 3600L)
        .cast("timestamp").cast("timestamp_ntz").as("win_start"), col("event_type"))
      .groupBy("win_start", "event_type").agg(count(lit(1)).as("n"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy(col("n").desc, col("event_type").asc)
    val top = batch.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3).orderBy("win_start", "rank").collect()
    assert(stream.toSeq == top.toSeq,
      s"stream: ${stream.take(3).toSeq}... batch: ${top.take(3).toSeq}...")
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) emits each event_id once across micro-batches") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = TempDirs.create("graft_dedup_")
    def feed(rows: Seq[(Long, Timestamp, Double)], name: String): Unit =
      Landing.feed(rows.toDF("event_id", "ts", "value"), dir, name)
    feed(Seq((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-01 10:05:00"), 2.0)), "b1.parquet")
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val deduped = spark.readStream.schema(schema).parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("dedup_spec").start()
    q.processAllAvailable()
    feed(Seq((2L, ts("2024-01-01 10:05:00"), 2.0), // duplicate — must not re-emit
      (3L, ts("2024-01-01 10:10:00"), 3.0)), "b2.parquet")
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_spec").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("dedupStream over the fixture keeps all (already-distinct) events exactly once") {
    val out = EventStreams.dedupStream(spark, sf001)
    val n = graft.Tables.events(spark, sf001).count()
    assert(out.count() == n)
    assert(out.select("event_id").distinct().count() == n)
  }

  test("stream-stream interval join equals the batch binned range join") {
    import org.apache.spark.sql.functions.{col, expr}
    val streamed = EventStreams.attributionStream(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime)).toSet
    val e = graft.Tables.events(spark, sf001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withColumn("lo", col("p_ts") - expr("INTERVAL 30 MINUTES"))
    // the plain batch interval join, planned without the binning rule
    val batch = graft.Session.withConf(spark,
        "spark.sql.optimizer.excludedRules" -> graft.plans.RangeJoinRewrite.ruleName) {
      clicks.join(purchases,
          col("c_uid") === col("user_id") &&
            col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("user_id"), col("click_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime)).toSet
    }
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("compiled streaming signatures are bitwise-equal to batch minhashSignatures") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf001)
    val batch = graft.operators.DedupQueries.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, text) =>
      val scalaSig = graft.streaming.DedupStreams.sigOf(text).map(_.toSeq)
      assert(scalaSig == batch.get(id), s"doc $id")
    }
    assert(batch.nonEmpty)
  }

  test("compiled streaming md5 signatures are bitwise-equal to batch minhashSignaturesMd5") {
    val docs = graft.Tables.documents(spark, sf001)
    val batch = graft.operators.DedupQueries.minhashSignaturesMd5(docs, 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, text) =>
      val scalaSig = graft.streaming.DedupStreams.sigOfMd5(text).map(_.toSeq)
      assert(scalaSig == batch.get(id), s"doc $id")
    }
    assert(batch.nonEmpty)
  }

  test("md5 streaming near-dup agrees with its batch twin across micro-batches") {
    import spark.implicits._
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val near = ((1 to 47).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val near2 = ((1 to 48).map(i => s"w$i") ++ Seq("y1", "y2")).mkString(" ")
    val other = (100 to 150).map(i => s"w$i").mkString(" ")
    val batch1 = Seq(1L -> base, 2L -> near, 3L -> other)
    val batch2 = Seq(4L -> near2, 5L -> "tiny")
    val source = Landing.sliceBatches(
      Seq(batch1.toDF("doc_id", "text"), batch2.toDF("doc_id", "text")))
    val stream = graft.streaming.DedupStreams
      .nearDupStreamMd5(spark, source)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (earlier, later)
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val batchPairs = graft.operators.DedupPipeline.nearDupPairsMd5(
        graft.operators.DedupQueries.minhashSignaturesMd5(all, 8), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batchPairs, s"stream=$stream batch=$batchPairs")
    assert(stream.exists { case (_, b) => b == 4L },
      s"no cross-batch pair found in $stream")
  }

  test("windowed cross-source dedup matches across micro-batches, only inside the window (q146)") {
    import spark.implicits._
    // even sources = reference feed; odd = incoming. ts = doc_id seconds.
    val batch1 = Seq(
      (10L, "src2", "alpha beta gamma"),
      (20L, "src4", "one two three"))
    val batch2 = Seq(
      (100L, "src1", "gamma alpha beta"),          // reorder mirror of 10, 90s later -> dup
      (105L, "src7", "three two one"),             // mirror of 20 -> dup
      (5000L, "src3", "beta gamma alpha"),         // mirror of 10 but 4990s > 60min -> clean
      (200L, "src5", "purple monkey dishwasher"))  // no ref match -> clean
    val source = Landing.sliceBatches(
      Seq(batch1, batch2).map(_.toDF("doc_id", "source", "text")))
    val got = graft.streaming.DedupStreams
      .windowedCrossSourceDedup(spark, source)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(100L -> ((10L, 1L)), 105L -> ((20L, 1L))), s"got $got")
  }

  test("streaming near-dup detection agrees with batch LSH across micro-batches") {
    import spark.implicits._
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val near = ((1 to 47).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val near2 = ((1 to 48).map(i => s"w$i") ++ Seq("y1", "y2")).mkString(" ")
    val other = (100 to 150).map(i => s"w$i").mkString(" ")
    val batch1 = Seq(1L -> base, 2L -> near, 3L -> other)
    val batch2 = Seq(4L -> near2, 5L -> "tiny") // 4 ~ 1/2 arrives a batch LATER
    val source = Landing.sliceBatches(
      Seq(batch1.toDF("doc_id", "text"), batch2.toDF("doc_id", "text")))
    val stream = graft.streaming.DedupStreams.nearDupStream(spark, source)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (earlier, later)
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val batchPairs = graft.operators.DedupPipeline.nearDupPairs(
        graft.operators.DedupQueries.minhashSignatures(all), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batchPairs, s"stream=$stream batch=$batchPairs")
    // the cross-batch pair must exist: doc 4 arrived a micro-batch after 1
    assert(stream.exists { case (a, b) => b == 4L },
      s"no cross-batch pair found in $stream")
  }

  test("streaming near-dup emits the pair when the SMALLER id arrives a batch later") {
    // review finding (r14): the old `stored < arriving` emission guard
    // silently dropped any pair whose smaller-id member landed in a LATER
    // micro-batch; ascending fixtures never exercised it. Feed the ids in
    // DESCENDING order across batches and require batch parity.
    import spark.implicits._
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val near = ((1 to 47).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val source = Landing.sliceBatches(Seq(
      Seq(10L -> base, 12L -> "unrelated words only here").toDF("doc_id", "text"),
      Seq(4L -> near).toDF("doc_id", "text"))) // the SMALLER id arrives later
    val stream = graft.streaming.DedupStreams
      .nearDupStream(spark, source)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (smaller, larger)
    val all = Seq(10L -> base, 12L -> "unrelated words only here", 4L -> near)
      .toDF("doc_id", "text")
    val batchPairs = graft.operators.DedupPipeline.nearDupPairs(
        graft.operators.DedupQueries.minhashSignatures(all), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.contains((4L, 10L)), s"test setup: expected a (4,10) batch pair, got $batchPairs")
    assert(stream == batchPairs, s"stream=$stream batch=$batchPairs")
  }

  test("time-ordered tercile staging plans no Exchange SinglePartition and equals the window ntile") {
    // r15 verdict item 1: the q252/q255 staging used to plan
    // ntile(3).over(Window.orderBy(ts, event_id)) — a full-data
    // single-partition sort. The shared staging now routes through
    // DistributedRank.ntile; pin BOTH halves of the claim: the plan
    // (no Exchange SinglePartition anywhere) and the semantics
    // (identical tercile assignment to the window form).
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, sf001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val staged = StreamHarness.timeOrderedSlicesForAudit(
      events, Seq(col("ts"), col("event_id")), 3)
    val plan = staged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"staging plan regressed to a single-partition sort:\n$plan")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val expect = events.withColumn("__slice", ntile(3).over(w))
      .select("event_id", "__slice")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = staged.select("event_id", "__slice")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expect, "DistributedRank terciles must equal the window-ntile terciles")
    assert(got.values.toSet == Set(1, 2, 3))
  }

  test("stageSlices enforces its one-data-file-per-slice invariant (q227 lesson)") {
    // The strictly-increasing per-slice mtime stamp restores
    // cross-slice ordering, but a slice that silently emits MORE than one
    // data file (coalesce(1) is the only guard) would reintroduce the
    // intra-slice same-millisecond tie downstream, nondeterministically.
    // Pin both directions: the normal path stages exactly one data file
    // per slice, and a forced regression (maxRecordsPerFile splitting the
    // single-partition write) fails LOUDLY at staging time.
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select(col("id"), pmod(col("id"), lit(2)).as("k"))
    val (_, stage) = StreamHarness.stageSlices(df, col("k"), 0 to 1)
    (0 to 1).foreach { i =>
      val files = java.nio.file.Files.list(stage.resolve(s"slice_$i"))
      val data = try
        scala.jdk.CollectionConverters.IteratorHasAsScala(files.iterator()).asScala
          .map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".")).toVector
      finally files.close()
      assert(data.size == 1, s"slice_$i: $data")
    }
    Session.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> "10") {
      val e = intercept[IllegalArgumentException] {
        StreamHarness.stageSlices(df, col("k"), 0 to 1)
      }
      assert(e.getMessage.contains("exactly one per slice"), e.getMessage)
    }
  }

  test("stateful streaming sessionization agrees with the batch window idiom") {
    import org.apache.spark.sql.functions.col
    val streamed = EventStreams.sessionizeStream(spark, sf001)
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val batch = Registry.queries("q32_sessionize")(spark, sf001)
      .select(col("user_id"), col("session_start").cast("timestamp"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    // streaming emits only CLOSED sessions (one open session per user
    // remains in state) — so streamed ⊂ batch, and the complement is at
    // most one session per user.
    val batchSet = batch.map { case (u, ts, n) => (u, ts.toInstant.toEpochMilli, n) }.toSet
    val streamSet = streamed.map { case (u, ts, n) => (u, ts.toInstant.toEpochMilli, n) }.toSet
    assert(streamSet.subsetOf(batchSet),
      s"streamed sessions not found in batch: ${(streamSet -- batchSet).take(3)}")
    val missingPerUser = (batchSet -- streamSet).groupBy(_._1).view.mapValues(_.size)
    assert(missingPerUser.values.forall(_ == 1), "more than one unemitted session for some user")
  }

  test("transformWithState sessionization equals the flatMapGroupsWithState output row-for-row") {
    val tws = EventStreams.sessionizeTws(spark, sf001)
      .collect().toSeq
    val fmg = EventStreams.sessionizeStream(spark, sf001)
      .collect().toSeq
    assert(tws == fmg, "the two stateful APIs must produce identical sessions")
  }

  test("tws multi-handle profile (ValueState+ListState+MapState+timer) equals the batch profile") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val streamed = ProfileStreams.userProfileTws(spark, sf001).collect().toSeq
    // batch twin of the same profile, straight Spark: per-(user, type)
    // counts + exact micros sums, session count via the lag-window idiom
    val e = graft.Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts"))
    val lagW = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = e.withColumn("prev_ts", lag("ts", 1).over(lagW))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .groupBy("user_id").agg(sum("new_sess").as("n_sessions"))
    val batch = e.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Metrics.canonRound(
          sum(floor(col("value") * 1e4 + 0.5).cast("long")).cast("double") / 1e4, 4)
          .as("sum_value"))
      .join(sess, "user_id")
      .select("user_id", "event_type", "n_events", "sum_value", "n_sessions")
      .orderBy("user_id", "event_type")
      .collect().toSeq
    assert(streamed == batch,
      "multi-handle streamed profile must equal the batch profile row-for-row")
    assert(streamed.nonEmpty)
    // the timer CLEARED every user's state: a second heartbeat-only pass
    // is implicit in the harness (hb2); each user appears exactly once
    // per event_type
    val keys = streamed.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.size == keys.size, "a user flushed more than once")
  }

  test("HARD-KILL recovery: tws sessionization survives crash-before-commit and crash-after-commit exactly once") {
    // four incarnations over one checkpoint (r14 verdict item 2): a
    // graceful stop, a kill AFTER the stateful plan committed its
    // RocksDB version but BEFORE the sink commit (recovery re-executes
    // the batch against state as of batch start — the torn version is
    // superseded, not corrupting), a kill after the sink commit but
    // before the checkpoint (the redelivery gets no second write from the
    // ledger guard, while drainBatch still re-executes the batch plan),
    // and a clean drain
    val run = RestartStreams.twsRestart(spark, sf001)
    assert(run.runIds.distinct.size === 4, s"expected 4 incarnations, saw ${run.runIds}")
    assert(run.batches.head === 1,
      s"first incarnation must stop after batch 1, saw ${run.batches}")
    // both injected failures really propagated out of a dying query
    assert(run.crashMsgs.size === 2 &&
      run.crashMsgs.exists(_.contains("BEFORE commit")) &&
      run.crashMsgs.exists(_.contains("AFTER commit")),
      s"expected both crash modes, saw ${run.crashMsgs}")
    // the error surface is EXACTLY the injected failure under Spark's
    // foreachBatch wrapper — in particular no
    // StateStoreCommitValidationFailed anywhere in either chain (r16
    // item 4: that class appearing here would mean the redelivered
    // batch's stateful plan stopped executing again)
    assert(run.crashClasses.size === 2 &&
      run.crashClasses.forall(_.contains("RuntimeException")),
      s"injected RuntimeException missing from a cause chain: ${run.crashClasses}")
    assert(run.crashClasses.flatten.forall(c => !c.contains("StateStoreCommitValidation")),
      s"commit-validation failure leaked into a crash chain: ${run.crashClasses}")
    // the NON-crash incarnations (graceful stop, final drain) terminated
    // with no error at all — before r17 the final drain silently swallowed
    // a StateStoreCommitValidationFailed because the ledger guard skipped
    // the redelivered batch's plan; a REAL recovery defect surfaces here
    assert(run.cleanErrs.isEmpty,
      s"non-crash incarnations must drain clean, saw ${run.cleanErrs}")
    // the crash-before-commit left a REAL partial sink write (with the
    // batch's RocksDB version already committed) for the janitor
    assert(run.orphanTmps >= 1, "the mid-batch kill must leave a staged partial write")
    // exactly-once sink log: each batch committed exactly once, versions
    // contiguous
    assert(run.committed === Seq((0L, 0L), (1L, 1L), (2L, 2L)),
      s"each batch must commit exactly once, saw ${run.committed}")
    // row-for-row ≡ the single-query sessionization (q129 path): every
    // open-session ValueState survived both kills and the redelivery
    val restart = run.result.collect().toSeq
    val single = EventStreams.sessionizeStream(spark, sf001)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("session_start").cast("timestamp_ntz"),
        org.apache.spark.sql.functions.col("session_end").cast("timestamp_ntz"),
        org.apache.spark.sql.functions.col("n_events"))
      .collect().toSeq
    assert(restart == single, "crash-recovered output must equal the single-run sessionization")
    assert(restart.nonEmpty)
  }

  test("versioned sink drains a redelivered batch id without a second merge") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{count, lit, sum}
    val dir = TempDirs.create("spec_sink_")
    val pulled = spark.sparkContext.longAccumulator("spec_sink_rows_pulled")
    // a static batch of 10 rows that counts each row as it is consumed
    def batch(lo: Long) = spark.range(lo, lo + 10).toDF("k")
      .filter { (_: Row) => pulled.add(1); true }
    var merges = 0
    val sink = StreamHarness.versionedMergeSink(dir) { (prev, b) =>
      merges += 1
      val delta = b.agg(count(lit(1)).as("n"))
      prev.fold(delta)(p => spark.read.parquet(p).unionByName(delta).agg(sum("n").as("n")))
    }
    sink(batch(0), 0L)
    sink(batch(10), 1L)
    val pulledBefore = pulled.value
    sink(batch(10), 1L) // batch 1 redelivered
    assert(merges === 2, "a redelivered batch id must not be merged again")
    assert(pulled.value === pulledBefore + 10,
      "the redelivered batch must still be consumed (drainBatch)")
    assert(StreamHarness.ledger(dir) === Seq((0L, 0L), (1L, 1L)))
    val listing = java.nio.file.Files.list(dir)
    val names = try listing.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      finally listing.close()
    assert(!names.exists(_.startsWith("tmp_b")), s"uncommitted staging left behind: $names")
    assert(spark.read.parquet(StreamHarness.versionPath(dir, (1L, 1L)))
      .collect().toSeq === Seq(Row(20L)))
  }

  test("HARD-KILL recovery: upsert sink survives crash-before-commit and crash-after-commit exactly once") {
    val run = RestartStreams.upsertRestart(spark, sf001)
    // four distinct incarnations over one checkpoint
    assert(run.runIds.distinct.size === 4, s"expected 4 incarnations, saw ${run.runIds}")
    // both injected failures really propagated out of a dying query
    assert(run.crashMsgs.size === 2 &&
      run.crashMsgs.forall(_.contains("injected crash")),
      s"expected 2 injected crashes, saw ${run.crashMsgs}")
    // exact error surface: the injected RuntimeException under Spark's
    // wrappers, and the clean incarnations really were clean
    assert(run.crashClasses.size === 2 &&
      run.crashClasses.forall(_.contains("RuntimeException")),
      s"injected RuntimeException missing from a cause chain: ${run.crashClasses}")
    assert(run.cleanErrs.isEmpty,
      s"non-crash incarnations must drain clean, saw ${run.cleanErrs}")
    // the crash-before-commit left a REAL partial sink write for the
    // janitor to find on the next recovery
    assert(run.orphanTmps >= 1, "the mid-batch kill must leave a staged partial write")
    // exactly-once ledger: each batch committed once, versions contiguous
    assert(run.committed === Seq((0L, 0L), (1L, 1L), (2L, 2L)),
      s"commit log must be one version per batch, saw ${run.committed}")
    // final state ≡ the no-restart upsert (q203 path): every batch applied
    // exactly once despite two hard kills and one redelivery
    val restart = run.result.collect().toSeq
    val single = UpsertStreams.streamingUpsert(spark, sf001)
      .collect().toSeq
    assert(restart == single, "crash-recovered upsert state must equal the single-run state")
    assert(restart.nonEmpty)
  }

  test("transformWithState TIMER eviction equals the GroupStateTimeout eviction row-for-row") {
    val tws = EventStreams.sessionizeTwsEvict(spark, sf001).collect().toSeq
    val gst = EventStreams.sessionizeEvictAll(spark, sf001).collect().toSeq
    assert(tws == gst, "timer eviction must match the timeout eviction")
  }

  test("event-time-timeout eviction emits exactly the open sessions the NoTimeout variant withholds") {
    import org.apache.spark.sql.functions.col
    def sessSet(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toEpochMilli, r.getLong(2))).toSet
    val evicted = sessSet(EventStreams.sessionizeEvictAll(spark, sf001))
    val closedOnly = sessSet(EventStreams.sessionizeStream(spark, sf001))
    // the NoTimeout set (gap-closed sessions) must be strictly contained,
    // and the complement — emittable only through the hasTimedOut path —
    // is exactly one open session per user
    assert(closedOnly.subsetOf(evicted),
      s"gap-closed sessions missing from evicting run: ${(closedOnly -- evicted).take(3)}")
    val users = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("user_id")).distinct().count()
    val timedOut = evicted -- closedOnly
    assert(timedOut.groupBy(_._1).forall(_._2.size == 1), "a user evicted more than one open session")
    assert(timedOut.size == users, s"expected $users timeout-evicted sessions, got ${timedOut.size}")
  }

  test("streaming rollup equals batch q179 regardless of micro-batching") {
    import org.apache.spark.sql.functions.{col, countDistinct, lit, pmod}
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
    // three slices → three micro-batches, cut by order key so one
    // customer's orders land in several batches and its count/sum state
    // is merged across them; the partials are commutative, so the merged
    // changelog must not depend on how the delta feed was split
    val sliceOf = pmod(col("o_orderkey"), lit(3))
    assert(orders.groupBy("o_custkey").agg(countDistinct(sliceOf).as("n"))
      .filter(col("n") > 1).count() > 0, "no customer spans two micro-batches")
    val (slices, _) = StreamHarness.stageSlices(orders, sliceOf, 0 to 2)
    val streamed = RollupStreams.streamingRollup(spark, slices, sf001).collect().toSeq
    val batch = Registry.queries("q179_incremental_rollup")(spark, sf001).collect().toSeq
    assert(streamed == batch)
  }

  test("streaming contamination equals batch q109 regardless of micro-batching") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    // three slices → three micro-batches; overlap is a set property, so
    // the result must not depend on the split
    val (slices, stage) = StreamHarness.stageSlices(docs, pmod(col("doc_id"), lit(3)), 0 to 2)
    val streamed = ContaminationStreams.contaminationStream(
        spark, slices, s"$stage/slice_*", sf001)
      .collect().toSeq
    val batch = Registry.queries("q109_contamination")(spark, sf001).collect().toSeq
    assert(streamed == batch)
  }

  test("foreachBatch upsert sink: merge is associative/commutative and replay-guarded (q203)") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(spark, sf001)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    // three slices, merged in two different orders -> identical state
    val d = (0 until 3).map(i =>
      UpsertStreams.deltaAgg(e.filter(pmod(col("event_id"), lit(3)) === i)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fwd = UpsertStreams.mergeStep(
      Some(UpsertStreams.mergeStep(Some(d(0)), d(1))), d(2))
    val rev = UpsertStreams.mergeStep(
      Some(UpsertStreams.mergeStep(Some(d(2)), d(1))), d(0))
    assert(canon(fwd) == canon(rev), "merge order must not matter")
    // and the merged state equals the one-shot batch aggregation
    assert(canon(fwd) == canon(UpsertStreams.deltaAgg(e)), "merge must equal batch agg")
    // end-to-end: the streaming run (3 real microbatches through the
    // replay-guarded foreachBatch sink) matches the direct batch form
    val streamed = UpsertStreams.streamingUpsert(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = e.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        graft.functions.Metrics.canonRound(
          sum(floor(col("value") * 1e4 + 0.5).cast("long")).cast("double") / 1e4, 4).as("sv"))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed == batch, s"streamed head=${streamed.take(3)} batch head=${batch.take(3)}")
  }

  test("streaming CUSUM report equals the batch changepoint (q222 vs q196)") {
    val streamed = graft.SparkEntry.queries("q222_stream_cusum")(spark, sf001)
      .collect().map(_.toString).toSeq
    val batch = graft.SparkEntry.queries("q196_cusum_changepoint")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming KMV merge: order-independent and equal to the one-shot sketch (q221)") {
    import org.apache.spark.sql.functions._
    val docs = graft.operators.KmvSketch.augmentedDocs(spark, sf001)
    val slices = (0 until 3).map(i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i).select(col("source"), col("text")))
    def sk(d: org.apache.spark.sql.DataFrame) =
      graft.operators.KmvSketch.sketch(d, k = 32).select(col("source"), col("h"))
    def canon(d: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      d.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fwd = SketchStreams.mergeStep(
      Some(SketchStreams.mergeStep(Some(sk(slices(0))), sk(slices(1)), 32)),
      sk(slices(2)), 32)
    val rev = SketchStreams.mergeStep(
      Some(SketchStreams.mergeStep(Some(sk(slices(2))), sk(slices(1)), 32)),
      sk(slices(0)), 32)
    val oneShot = sk(docs.select(col("source"), col("text")))
    assert(canon(fwd) == canon(rev), "k-min merge must be order-independent")
    assert(canon(fwd) == canon(oneShot), "merged sketch must equal the one-shot build")
  }

  test("stream-maintained minhash index: pair log AND final index equal the batch build (q215)") {
    import org.apache.spark.sql.functions._
    // pair log ≡ batch banded self-join (the q215 oracle's claim, checked
    // here engine-internally so the spec fails close to the cause)
    val (pairLog, finalIndex) =
      IndexStreams.streamingMinhashIndexWithState(spark, sf001)
    val streamedPairs = pairLog
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val allBands = IndexStreams.batchBands(spark, sf001).cache()
    allBands.count()
    // final index ≡ batch-built index: the insert-only merges must land
    // every document's bands exactly once
    val streamedIdx = finalIndex.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val batchIdx = allBands.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    // a batch applied twice duplicates rows, which a set comparison
    // alone would hide: both sides must also have the batch's row count
    // with no row repeated
    def sameRows[A](what: String, streamed: Seq[A], batch: Seq[A]): Unit = {
      assert(streamed.toSet == batch.toSet,
        s"$what drift: only-stream=${(streamed.toSet -- batch).take(3)} " +
          s"only-batch=${(batch.toSet -- streamed).take(3)}")
      val (rows, distinct, batchRows) = (streamed.size, streamed.distinct.size, batch.size)
      assert(rows == distinct, s"$what repeats ${rows - distinct} rows")
      assert(rows == batchRows, s"$what has $rows rows, the batch build $batchRows")
    }
    sameRows("index", streamedIdx, batchIdx)
    val batchPairs = allBands.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(allBands.select(col("band"), col("bh"), col("doc_id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    sameRows("pair log", streamedPairs, batchPairs)
    assert(streamedPairs.nonEmpty)
    allBands.unpersist()
  }

  test("incremental CC forest merges equal the batch clustering for any slicing (q227)") {
    import org.apache.spark.sql.functions._
    // CC(forest(E1) ∪ E2) = CC(E1 ∪ E2): replay GraphStreams' merge step
    // over two orderings of three edge slices and compare with the batch
    // components over the full edge set
    val edges = graft.operators.DedupQueries.dedupEdges(spark, sf001).cache()
    edges.count()
    def slice(i: Int) = edges.filter(pmod(xxhash64(col("u"), col("v")), lit(3)) === i)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fwd = GraphStreams.mergeStep(
      Some(GraphStreams.mergeStep(Some(GraphStreams.mergeStep(None, slice(0))),
        slice(1))), slice(2))
    val rev = GraphStreams.mergeStep(
      Some(GraphStreams.mergeStep(Some(GraphStreams.mergeStep(None, slice(2))),
        slice(1))), slice(0))
    val batch = graft.operators.ConnectedComponents.components(edges)
    assert(canon(fwd) == canon(batch), "forward merge must equal batch CC")
    assert(canon(rev) == canon(batch), "merge must be slicing-order-independent")
    assert(canon(batch).nonEmpty)
    edges.unpersist()
  }
}
