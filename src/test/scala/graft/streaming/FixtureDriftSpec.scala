package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{SparkSpec, Tables}
import graft.registry.Registry

/** The streaming harnesses over the events fixture shapes that drift
  * between fixture generations: a directory of part files instead of one
  * file, and `ts` stored as plain INT64 nanoseconds (the type
  * `spark.sql.legacy.parquet.nanosAsLong` reads from a NANOS file).
  * Each drifted copy holds sf0.001's events in the drifted shape next to
  * links to its other tables, so every query must return sf0.001's rows.
  */
class FixtureDriftSpec extends SparkSpec {

  /** A fixture dir whose events are written by `events` and whose other
    * tables link to sf0.001's. */
  private def driftedCopy(events: Path => Unit): String = {
    val dir = TempDirs.create("graft_drift_")
    Tables.all.filterNot(_ == "events").foreach { t =>
      Files.createSymbolicLink(dir.resolve(s"$t.parquet"),
        Paths.get(s"$sf001/$t.parquet").toAbsolutePath)
    }
    events(dir)
    dir.toString
  }

  /** sf0.001's events as a directory of three part files. */
  private lazy val partFiles = driftedCopy { dir =>
    Tables.raw(spark, sf001, "events").repartition(3)
      .write.parquet(dir.resolve("events.parquet").toString)
  }

  /** sf0.001's events as one file, `ts` as INT64 nanoseconds. */
  private lazy val longNanos = driftedCopy { dir =>
    val raw = Tables.raw(spark, sf001, "events")
    val events = Tables.events(spark, sf001)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .select(raw.columns.map(col): _*)
    Landing.feed(events, dir, "events.parquet")
  }

  test("fixtureStream streams every data file of a directory-shaped fixture") {
    val files = Files.list(Paths.get(s"$partFiles/events.parquet"))
    val parts = try files.filter(_.toString.endsWith(".parquet")).count() finally files.close()
    assert(parts === 3)
    val (stream, _) = StreamHarness.fixtureStream(spark, partFiles, "events")
    val streamed = StreamHarness.runToMemory(stream, OutputMode.Append)().count()
    assert(streamed === Tables.raw(spark, sf001, "events").count())
  }

  test("q134, q138, q250 and q255 return sf0.001's rows on both drifted events fixtures") {
    assert(Tables.raw(spark, longNanos, "events").schema("ts").dataType.typeName === "long")
    def run(name: String, dir: String): Seq[Row] = Registry.queries(name)(spark, dir).collect().toSeq
    val wrong = for {
      name <- Seq("q134_stream_session_evict", "q138_stream_attribution",
        "q250_tws_session_evict", "q255_tws_profile")
      expected = run(name, sf001)
      _ = assert(expected.nonEmpty, name)
      (shape, dir) <- Seq("part files" -> partFiles, "long nanos ts" -> longNanos)
      got = Try(run(name, dir))
      if !got.toOption.contains(expected)
    } yield s"$name on $shape: " + got.fold(e => s"threw ${e.getClass.getSimpleName}",
      rows => s"${rows.size} rows, sf0.001 has ${expected.size}")
    assert(wrong.isEmpty, wrong.mkString("; "))
  }
}
