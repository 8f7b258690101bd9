package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Fs.{listDir, parquetLeaves, rmTree}

/** Load-stage sinks K1–K4 (SURVEY.md §2.2).
  *
  * Reference: JSON API envelope (pages/api/etl/restart.js:14-20), CSV export
  * with every value quoted and `"` doubled (pages/index.js:105-131,426-430),
  * top-N previews (pages/index.js:228,268). Spark's CSV writer is RFC-4180,
  * which matches the reference's hand-rolled quoting exactly when
  * `quoteAll` is on.
  */
object Load {

  /** K2 — CSV export: header + quote-all, `"` → `""`, null → empty.
    * Spark's writer defaults to backslash-escaping; RFC-4180 doubling (what
    * the reference hand-rolls, pages/index.js:426-430) needs escape='"'. */
  def csv(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      .option("emptyValue", "\"\"")
      .csv(out)

  /** Small-file compaction, per LEAF ([[graft.util.Fs.parquetLeaves]]:
    * `dir` for a flat table, each `k=v[/k2=v2…]` directory of a Hive-layout
    * one) with `numFiles` as the per-leaf budget. A leaf within budget is
    * not touched: a driver-side listing decides, no Spark job, no file
    * move. A leaf over budget is read with `mergeSchema` (no column of an
    * evolved schema is lost) and rewritten into exactly `numFiles` files.
    * Partition values stay in the directory names, so the layout, and
    * directory pruning on a partition-key filter, survive. Each rewrite
    * writes beside its leaf and swaps ([[swapIn]]); a call first repairs
    * what an interrupted one staged. */
  def compact(spark: SparkSession, dir: String, numFiles: Int): Unit = {
    def recoverStaged(d: Path): Unit = listDir(d).map(_.getFileName.toString)
      .foreach(n => staged.find(n.startsWith).foreach(p => recover(d.resolve(n.stripPrefix(p)))))
    recover(Paths.get(dir))
    parquetLeaves(Paths.get(dir), recoverStaged).foreach { case (leaf, files) =>
      if (files.size > numFiles) swapIn(leaf) { tmp =>
        spark.read.option("mergeSchema", "true").parquet(files.map(_.toString): _*)
          .repartition(numFiles).write.parquet(tmp)
      }
    }
  }

  /** (part, file_id, file, bytes) manifest for
    * [[graft.operators.Layout.compactionPlan]]: one row per data file of
    * each leaf [[compact]] sees, `part` the leaf's path relative to `dir`
    * (`a=1/b=2`; empty for a flat table), `file_id` by file name within the
    * leaf. At 100 TB this frame comes from the table format's manifest
    * store rather than an FS walk; the SHAPE is the contract. */
  def parquetManifest(spark: SparkSession, dir: String): DataFrame = {
    val root = Paths.get(dir)
    val rows = parquetLeaves(root).flatMap { case (leaf, files) =>
      val part = root.relativize(leaf).toString
      files.zipWithIndex.map { case (f, i) => (part, i.toLong, f.toString, Files.size(f)) }
    }
    import spark.implicits._
    rows.toDF("part", "file_id", "file", "bytes")
  }

  /** Execute ONE partition of a [[graft.operators.Layout.compactionPlan]]:
    * each planned bin's files become exactly one file, through [[swapIn]].
    * `plan` carries (part, file, bin), the planner output joined back to
    * the manifest's paths. A driver-side loop runs over one partition's
    * BINS (at scale, one task tree per bin); nothing data-sized is
    * collected. Returns the achieved file count, for the caller to check. */
  def executeCompaction(spark: SparkSession, dir: String, part: String,
                        plan: DataFrame): Int = {
    import org.apache.spark.sql.functions.col
    val bins = plan.filter(col("part") === part)
      .select(col("bin").cast("long"), col("file")).collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (bin, rs) => bin -> rs.map(_.getString(1)).sorted.toSeq }
    require(bins.nonEmpty, s"plan has no files for partition $part")
    val target = Paths.get(dir, part)
    def achieved(): Int = listDir(target).count(_.getFileName.toString.endsWith(".parquet"))
    // a crash after the swap but before its cleanup leaves target holding
    // the compacted copy while the plan's source files are gone (they
    // lived in the pre-swap target): re-running the bins against those
    // paths would fail midway, so report the achieved count instead
    if (recover(target) && bins.forall(_._2.forall(f => !Files.exists(Paths.get(f)))))
      return achieved()
    swapIn(target) { tmp =>
      bins.foreach { case (_, files) =>
        spark.read.option("mergeSchema", "true").parquet(files: _*).coalesce(1)
          .write.mode("append").parquet(tmp)
      }
    }
    achieved()
  }

  /** Staging-sibling prefixes (new copy, old copy) of a swap target: a
    * leading `.` hides them from Spark's reader, so no reader sees a row
    * twice mid-compaction (`_` would not: Spark keeps `_`-names with `=`). */
  private val staged = Seq(".compacting-", ".precompact-")

  private def staging(target: Path): (Path, Path) = {
    val t = target.toAbsolutePath
    (t.resolveSibling(staged(0) + t.getFileName), t.resolveSibling(staged(1) + t.getFileName))
  }

  /** Write-beside-and-swap, the one swap path of both compactions. The
    * move order keeps a complete copy live at every step: a crash between
    * the moves leaves the original at the old-copy sibling for [[recover]]. */
  private def swapIn(target: Path)(write: String => Unit): Unit = {
    val (tmp, old) = staging(target)
    rmTree(tmp)
    write(tmp.toString)
    Files.move(target, old)
    Files.move(tmp, target)
    rmTree(old)
  }

  /** Crash recovery for one swap target: drop a half-written new copy and
    * restore a stranded original. True when the crash came after the swap
    * (target and old copy both existed; the old copy is dropped). */
  private def recover(target: Path): Boolean = {
    val (tmp, old) = staging(target)
    rmTree(tmp)
    if (!Files.exists(old)) false
    else if (!Files.exists(target)) { Files.move(old, target); false }
    else { rmTree(old); true }
  }

  /** K1 — JSON sink (one object per line, the API envelope's rows). */
  def json(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").json(out)

  /** Parquet sink — the driver contract's canonical output format. */
  def parquet(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").parquet(out)

  /** Hive-layout partitioned parquet sink — the lake layout that turns a
    * partition-key predicate into directory pruning: a reader filtering on
    * `cols` never lists, opens or scans the other partitions
    * (`PartitionFilters` in the scan, spec-asserted). At 100 TB this is
    * the difference between scanning a day and scanning a decade. */
  def partitionedParquet(df: DataFrame, out: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(out)

  /** K1 — the API envelope (pages/api/etl/restart.js:14-20, users.js:44-46):
    * one JSON object `{users, metrics, fallbackUsed, sourceUrl, fetchedAt}`.
    * Driver-side assembly by design — the envelope is a response payload,
    * not a dataset; `users` is expected to be display-sized (the reference
    * sends its full 500-row page).
    *
    * `maxRows` ENFORCES that contract: the collect is capped at
    * maxRows+1, and finding more than maxRows rows throws rather than
    * silently truncating a payload the caller believed complete — a
    * caller handed a fact table fails fast instead of OOMing the driver. */
  def apiEnvelope(users: DataFrame, metrics: DataFrame,
                  fallbackUsed: Boolean, fetchedAt: java.time.Instant,
                  sourceUrl: String = "", maxRows: Int = 10000): String = {
    val capped = users.limit(maxRows + 1).toJSON.collect()
    if (capped.length > maxRows) throw new IllegalArgumentException(
      s"apiEnvelope: users exceeds maxRows=$maxRows — the envelope is a " +
        "display-sized response payload; aggregate or page the frame first")
    val usersJson = capped.mkString("[", ",", "]")
    val metricsJson = metrics.toJSON.collect().headOption.getOrElse("{}")
    s"""{"users":$usersJson,"metrics":$metricsJson,""" +
      s""""fallbackUsed":$fallbackUsed,"sourceUrl":"${jsonEscape(sourceUrl)}",""" +
      s""""fetchedAt":"$fetchedAt"}"""
  }

  /** K1 error variants (pages/api/etl/restart.js:5-8,22-26): the reference
    * answers 405 `{error: 'Method not allowed'}` to a non-POST and 500
    * `{error: <message>}` when the pipeline throws. Returned as
    * (status, body) so any HTTP layer can relay it. */
  def errorEnvelope(status: Int, message: String): (Int, String) =
    (status, s"""{"error":"${jsonEscape(message)}"}""")

  def methodNotAllowed: (Int, String) = errorEnvelope(405, "Method not allowed")

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** K3 — pretty JSON preview of the first n rows (pages/index.js:268). */
  def previewJson(df: DataFrame, n: Int = 10): Seq[String] =
    df.limit(n).toJSON.collect().toIndexedSeq
}
