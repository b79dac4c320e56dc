package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.registry.GQuery
import StreamHarness.CrashPoint

/** Checkpoint RESTART/RECOVERY certification: every other streaming
  * harness in this library runs one query start to finish; these two
  * interrupt a CHECKPOINTED query mid-stream and finish it with NEW query
  * objects over the SAME checkpoint dir. Both run the exactly-once sink
  * that q203, q236 and the other versioned-merge harnesses run
  * ([[StreamHarness.versionedMergeSink]]) through one incarnation driver
  * ([[crashRestart]]) and its fixed schedule:
  *
  *  1. graceful stop after batch 0 (the first slice only);
  *  2. HARD KILL mid-batch 1: the sink stages the batch's output to
  *     `tmp_b1` (a real partial sink write — data on disk, commit never
  *     happened) and the query dies BEFORE the atomic rename-commit.
  *     Recovery must apply the batch exactly once; the janitor discards
  *     the orphaned staging dir. Commit = atomic directory rename, so no
  *     half-written version is ever visible under a committed name;
  *  3. batch 1 replays and commits, then batch 2 commits and the query
  *     dies AFTER the commit, before the streaming checkpoint records the
  *     batch — the classic at-least-once window;
  *  4. batch 2 is REDELIVERED: the sink's recovered ledger drains it
  *     without a second write — no duplicate, no loss — and the query
  *     finishes clean.
  *
  * What each must survive:
  *
  *  - [[upsertRestart]] (q203's idempotent-MERGE upsert): the SOURCE file
  *    log and batch-id ledger — incarnation 2 must resume at batch 1, not
  *    redeliver batch 0 — plus the sink's own recovery of (version,
  *    lastApplied) from its `v<version>_b<batchId>` names, exactly how a
  *    production MERGE INTO sink recovers from its commit log.
  *  - [[twsRestart]] (q249's transformWithState sessionization): the
  *    RocksDB STATE STORE — every user's open-session ValueState must be
  *    restored into the new query's processor, or sessions spanning a
  *    restart boundary split and the oracle hash-mismatches. Its sink
  *    keeps each batch's sessions as a version of their own (no merge)
  *    and the result is their union. The kill in step 2 lands AFTER the
  *    stateful plan executed and RocksDB committed the post-batch-1
  *    version: recovery must re-execute the batch against the state AS OF
  *    BATCH START, superseding the torn version. The redelivery in step 4
  *    re-executes the drained plan, and the store recommits the same
  *    deterministic version (Spark 4.1's commit validation requires
  *    every batch to commit its state partitions).
  *
  * Both reuse their originals' oracles VERBATIM: the upsert state is a
  * set property of the corpus (merge is associative/commutative), and
  * the session fold is slicing-independent as long as batches partition
  * TIME in order — so the TWS slices are the (ts, event_id) terciles,
  * computed by DistributedRank.ntile (one range exchange — never the
  * single-partition window sort) and published in arrival order
  * (FileStreamSource schedules new files by modification time, which the
  * staging stamps in slice order).
  *
  * The memory sink can't be used under a real restart (it is not
  * fault-tolerant); output goes through foreachBatch into the versioned
  * sink, idempotent on replay.
  */
object RestartStreams {

  /** Evidence the spec pins for one crash-restart run: one incarnation
    * per element of `runIds`, `batches` the batches each one ran;
    * `crashMsgs` the injected failures that really propagated out of the
    * dying queries; `crashClasses` the full cause-chain CLASS names of
    * each, so the spec can pin that the error surface is exactly the
    * injected RuntimeException under Spark's foreachBatch wrapper;
    * `cleanErrs` any error a NON-crash incarnation produced — expected
    * empty, and where a real recovery defect (e.g. a
    * StateStoreCommitValidationFailed) surfaces loudly; `committed` the
    * sink's final (version, batchId) ledger — exactly-once means one
    * entry per batch; `orphanTmps` the uncommitted partial-write staging
    * dirs found (and discarded) during recovery.
    */
  final case class CrashRun(result: DataFrame, runIds: Seq[String], batches: Seq[Long],
                            crashMsgs: Seq[String], crashClasses: Seq[Seq[String]],
                            cleanErrs: Seq[String], committed: Seq[(Long, Long)],
                            orphanTmps: Int)

  /** (recorded message, full cause-chain class names) for a propagated
    * query failure: the message is the injected one when present (the
    * wrapper layers' messages embed huge plan strings), the class chain
    * is kept whole so the spec can pin the EXACT error surface.
    */
  private def describeFailure(e: Throwable): (String, Seq[String]) = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toList
    val msg = chain.map(_.getMessage).find(m => m != null && m.contains("injected crash"))
      .getOrElse(e.getMessage)
    (msg, chain.map(_.getClass.getSimpleName))
  }

  /** The incarnation driver: the four-incarnation schedule above over one
    * checkpoint. `pending` is a stage of slices in `schema` (from
    * StreamHarness.stageSlices); the first of `sliceIds` is published
    * into the live source dir before incarnation 1 and the rest after it
    * (atomic directory moves — the arrival pattern of a landing dir).
    * Each incarnation first discards the sink's uncommitted writes, then
    * runs `stream` over the live slices into the versioned sink, built
    * with `merge` and the incarnation's crash point. It keeps its own start/stop loop rather
    * than StreamHarness.runQuery: it records each incarnation's failure
    * and progress. `result` reads the final committed versions' paths,
    * oldest first.
    */
  private def crashRestart(spark: SparkSession, schema: StructType, pending: Path,
      sliceIds: Seq[Int])
      (stream: DataFrame => DataFrame, merge: (Option[String], DataFrame) => DataFrame)
      (result: Seq[String] => DataFrame): CrashRun = {
    val stage = TempDirs.create("graft_restart_stage_")
    val ckpt = TempDirs.create("graft_restart_ckpt_")
    val sinkDir = TempDirs.create("graft_restart_sink_")
    def publish(i: Int): Unit =
      Files.move(pending.resolve(s"slice_$i"), stage.resolve(s"slice_$i"))
    var orphans = 0
    def runOnce(crash: Option[CrashPoint]): (String, Long, Option[(String, Seq[String])]) = {
      // recovery janitor: a crashed incarnation's uncommitted staging dirs
      // are garbage by definition (their batch replays)
      val tmps = StreamHarness.uncommitted(sinkDir)
      orphans += tmps.size
      tmps.foreach(TempDirs.deleteRecursively)
      val q = stream(StreamHarness.sliceStream(spark, stage, schema)).writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(StreamHarness.versionedMergeSink(sinkDir, crash)(merge))
        .start()
      val err = try { q.processAllAvailable(); None } catch {
        case e: Throwable => Some(describeFailure(e))
      }
      val n = q.recentProgress.count(_.numInputRows > 0)
      val rid = q.runId.toString
      try q.stop() catch { case _: Throwable => () }
      (rid, n.toLong, err)
    }
    publish(sliceIds.head)
    val r1 = runOnce(None) // batch 0, graceful stop
    sliceIds.tail.foreach(publish)
    val r2 = runOnce(Some(CrashPoint(1, afterCommit = false))) // dies mid-batch 1, staged only
    val r3 = runOnce(Some(CrashPoint(2, afterCommit = true))) // replays b1, commits b2, dies
    val r4 = runOnce(None) // b2 redelivered -> drained, no second write
    val runs = Seq(r1, r2, r3, r4)
    val ledger = StreamHarness.ledger(sinkDir)
    CrashRun(result(ledger.map(StreamHarness.versionPath(sinkDir, _))),
      runs.map(_._1), runs.map(_._2),
      Seq(r2, r3).flatMap(_._3.map(_._1)), Seq(r2, r3).flatMap(_._3.map(_._2)),
      Seq(r1, r4).flatMap(_._3.map(_._1)), ledger, orphans)
  }

  /** q249's transformWithState sessionization through the crash-restart
    * schedule. Sessions spanning every boundary come out right only if
    * each incarnation's ValueState is the exactly-once fold state —
    * pinned by row-for-row equality with the single-run sessionization
    * (StreamingSpec) and by q252's unchanged q129 oracle.
    */
  def twsRestart(spark: SparkSession, dir: String): CrashRun =
    StreamHarness.withStreamConf(spark, rocksDb = true) {
      import spark.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import EventStreams.{Event, SessionProcessor}
      // TIME-ordered terciles: batches must partition time in order for
      // the per-user fold to see non-decreasing timestamps across the
      // restart boundary (arbitrary slices would be wrong REGARDLESS of
      // restart — this is the fold's delivery contract, not a test prop).
      val (slices, pending) = StreamHarness.stageTimeOrderedSlices(
        graft.Tables.events(spark, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")),
        Seq(col("ts"), col("event_id")), 3)
      crashRestart(spark, slices.schema, pending, 1 to 3)(
        _.as[Event].groupByKey(_.user_id)
          .transformWithState(new SessionProcessor, TimeMode.None(), OutputMode.Append())
          .toDF,
        (_, batch) => batch) { versions =>
        spark.read.parquet(versions: _*)
          .select(col("user_id"),
            col("session_start").cast("timestamp_ntz").as("session_start"),
            col("session_end").cast("timestamp_ntz").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start")
          // the result frame must outlive the temp dirs' JVM-exit cleanup
          // and the provider-conf restore when withStreamConf returns
          .localCheckpoint(true)
      }
    }

  /** q203's upsert through the crash-restart schedule: the versioned
    * sink's merge is q203's own MERGE step, and the result is the last
    * committed state version.
    */
  def upsertRestart(spark: SparkSession, dir: String): CrashRun =
    StreamHarness.withStreamConf(spark) {
      // pmod slices, NOT time-ordered: the merge is associative and
      // commutative, so this path owes its batches no ordering contract
      // at all (contrast with twsRestart's tercile staging)
      val (slices, pending) = StreamHarness.stageSlices(
        graft.Tables.events(spark, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("value")),
        pmod(col("event_id"), lit(3)), 0 to 2)
      crashRestart(spark, slices.schema, pending, 0 to 2)(
        identity,
        (prev, batch) => UpsertStreams.mergeStep(prev.map(p => spark.read.parquet(p)),
          UpsertStreams.deltaAgg(batch))) { versions =>
        spark.read.parquet(versions.last)
          .select(col("user_id"), col("n_events"),
            graft.functions.Metrics.canonRound(col("sum_micros").cast("double") / 1e4, 4)
              .as("sum_value"),
            col("last_ts").cast("timestamp_ntz").as("last_ts"))
          .orderBy("user_id")
          .localCheckpoint(true)
      }
    }

  /** Registry entries — both reuse the non-restart originals' oracles
    * VERBATIM (set-property / slicing-independence arguments above).
    */
  val q252 = GQuery(
    "q252_tws_restart",
    (s, dir) => twsRestart(s, dir).result,
    graft.operators.EventQueries.q129.oracle)

  val q253 = GQuery(
    "q253_stream_upsert_restart",
    (s, dir) => upsertRestart(s, dir).result,
    graft.operators.EventQueries.q203.oracle)

  def all: Seq[GQuery] = Seq(q252, q253)
}
