package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Schema-ADAPTIVE events ingest (round-6 postmortem): the driver has shipped
  * `events.ts` as int64 TIMESTAMP(NANOS) in some fixture generations and
  * plain `timestamp[us]` in others. A pinned read schema broke BOTH ways —
  * loudly in batch (`ts div 1000` DATATYPE_MISMATCH on a timestamp column)
  * and SILENTLY in streaming (micros read as nanos → every event collapsed
  * to ~1970). This spec writes the same tiny event set in three physical
  * encodings and pins that batch AND streaming ingest produce identical,
  * correct event time for all of them — plus that an unsupported encoding
  * fails loudly at probe time instead of corrupting event time.
  */
class EventsIngestSpec extends SparkTestBase {
  import spark.implicits._

  /** Known event times, as epoch MICROS (sub-second components included so a
    * precision-losing conversion can't hide). Two calendar days. */
  private val eventsMicros: Seq[(Long, Long, Long, String, Double, String)] = Seq(
    (1L, 1700000000_123456L, 10L, "click", 1.5, "{}"),
    (2L, 1700003600_654321L, 10L, "purchase", 2.0, "{}"),
    (3L, 1700086400_000007L, 11L, "click", 3.25, "{}"),
    (4L, 1700090000_999999L, 12L, "view", 0.5, "{}"))

  private def baseDf: DataFrame =
    eventsMicros.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Stage `df` as a single FILE named `events.parquet` under a fresh dir
    * in `root` (the fixtures are single files, and the streaming runners
    * Files.copy them — a part-file directory would not exercise the same
    * path). */
  private def stage(root: Path, df: DataFrame): String = {
    val dir = Files.createTempDirectory(root, "fixture")
    val tmp = Files.createTempDirectory(root, "write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).toArray.map(_.toString).find(_.endsWith(".parquet")).get
    Files.copy(Paths.get(part), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.util.Fs.rmTree(tmp)
    dir.toString
  }

  /** The same rows in each of the three encodings, staged on first use
    * under `root`. */
  private final class Encodings(root: Path) {
    // a REAL int64 TIMESTAMP(NANOS) file (committed resource; Spark cannot
    // write the NANOS annotation, and the probe rightly rejects unannotated
    // int64 — see the loud-rejection test below), same rows as baseDf
    lazy val nanosDir = {
      val dir = Files.createTempDirectory(root, "fixture")
      val res = getClass.getResourceAsStream("/events_nanos.parquet")
      Files.copy(res, dir.resolve("events.parquet"))
      res.close()
      dir.toString
    }
    // timestamp[us] without timezone — the current fixture generation
    lazy val ntzDir = stage(root,
      baseDf.withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType)))
    // UTC-adjusted timestamp — the third encoding a future generation could pick
    lazy val tzDir = stage(root, baseDf.withColumn("ts", timestamp_micros(col("ts"))))
  }

  private def withEncodings[T](body: Encodings => T): T =
    withTempDir("graft-ingest-fixture")(root => body(new Encodings(root)))

  test("probe reports the actual physical ts type per fixture") { withEncodings { enc =>
    import enc._
    assert(Tables.eventsTsType(spark, s"$nanosDir/events.parquet") == LongType)
    assert(Tables.eventsTsType(spark, s"$ntzDir/events.parquet") == TimestampNTZType)
    assert(Tables.eventsTsType(spark, s"$tzDir/events.parquet") == TimestampType)
  }}

  test("batch ingest yields identical micros-exact event time for all encodings") { withEncodings { enc =>
    import enc._
    def normalized(d: String): Seq[(Long, Long)] =
      Tables.events(spark, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expected = eventsMicros.map(e => (e._1, e._2)).sorted
    assert(normalized(nanosDir) == expected)
    assert(normalized(ntzDir) == expected)
    assert(normalized(tzDir) == expected)
    // and every branch lands on the session TimestampType
    for (d <- Seq(nanosDir, ntzDir, tzDir))
      assert(Tables.events(spark, d).schema("ts").dataType == TimestampType)
  }}

  test("streaming ingest (probe-derived schema) matches across encodings") { withEncodings { enc =>
    import enc._
    def windows(d: String): Seq[String] =
      graft.streaming.EventStream.runWindowedOverFixture(spark, d)
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .collect().map(_.toString).toSeq.sorted
    val a = windows(nanosDir)
    assert(a == windows(ntzDir))
    assert(a == windows(tzDir))
    // the round-6 silent failure mode: all timestamps collapsing to ~1970
    assert(a.nonEmpty && a.forall(_.contains("2023")), s"wrong event time: $a")
  }}

  test("sentinel files are written in the fixture's own ts encoding (OHLC replay)") { withEncodings { enc =>
    import enc._
    // runOhlcOverFixture appends a far-future sentinel file next to the data
    // file under ONE read schema — mixed encodings would throw or corrupt
    def bars(d: String): Seq[String] =
      graft.streaming.EventStream.runOhlcOverFixture(spark, d)
        .collect().map(_.toString).toSeq.sorted
    val a = bars(nanosDir)
    assert(a == bars(ntzDir))
    assert(a.nonEmpty)
  }}

  test("an unsupported ts encoding fails loudly at probe time") { withTempDir("graft-ingest-fixture") { root =>
    val dir = stage(root, baseDf.withColumn("ts", (col("ts") / 1000000.0)))
    val e = intercept[IllegalArgumentException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("unsupported physical type"))
  }}

  test("unannotated int64 ts is rejected, not guessed to be nanos") { withTempDir("graft-ingest-fixture") { root =>
    // Spark reports plain int64 and TIMESTAMP(NANOS) identically under
    // nanosAsLong (both LongType) — but an unannotated int64 could be any
    // epoch unit, and applying the nanos ÷1000 to micros values is the
    // round-6 silent ~1970 collapse. The footer annotation disambiguates;
    // no annotation must be a LOUD failure.
    val dir = stage(root, baseDf) // ts stays a plain long (micros values)
    val e = intercept[IllegalArgumentException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("refusing to guess"), e.getMessage)
  }}
}
