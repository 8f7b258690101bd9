package graft.etl

import graft.SparkTestBase
import java.nio.file.Files

class LoadSpec extends SparkTestBase {
  import spark.implicits._

  test("K2 CSV export: quote-all with embedded-quote doubling, round-trips") { withTempDir("graft-csv") { tmp =>
    val df = Seq(("a \"quoted\" value", 1), ("plain", 2), (null.asInstanceOf[String], 3))
      .toDF("text", "n")
    val out = tmp.toString
    Load.csv(df, out)
    val raw = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines())
    assert(raw.exists(_.contains("\"a \"\"quoted\"\" value\"")), raw.mkString("|"))
    // round-trip through Spark's reader restores the original values
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .option("escape", "\"").csv(out)
    assert(back.where($"text" === "a \"quoted\" value").count() == 1)
  }}

  test("partitioned parquet: key predicate prunes to partition directories") { withTempDir("graft-part") { tmp =>
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.toString
    Load.partitionedParquet(orders, out, "o_orderpriority")
    // hive layout on disk
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("o_orderpriority=")) == 5, dirs.mkString(","))
    // a partition-key filter reaches the scan as a PartitionFilter — and
    // values round-trip
    val back = spark.read.parquet(out).filter($"o_orderpriority" === "1-URGENT")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"), plan)
    assert(back.count() ==
      orders.filter($"o_orderpriority" === "1-URGENT").count())
  }}

  test("compact rewrites a many-file table into few files, rows unchanged") { withTempDir("graft-compact") { tmp =>
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.resolve("t").toString
    orders.repartition(16).write.parquet(out)
    def parquetFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 16)
    Load.compact(spark, out, 2)
    assert(parquetFiles == 2)
    assert(spark.read.parquet(out).count() == orders.count())
  }}

  /** Sorted row strings of a table, partition columns included. */
  private def rowMultiset(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted

  private def parquetNames(dir: java.io.File): Set[String] =
    dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

  test("compact rewrites only over-budget leaves and keeps the Hive layout") { withTempDir("graft-compact-leaf") { tmp =>
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.resolve("t").toString
    // one file per partition, then four more into two of the five
    orders.repartition(1).write.partitionBy("o_orderpriority").parquet(out)
    val grown = Set("1-URGENT", "3-MEDIUM")
    orders.filter($"o_orderpriority".isin(grown.toSeq: _*)).repartition(4)
      .write.mode("append").partitionBy("o_orderpriority").parquet(out)
    val leaves = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("o_orderpriority=")).sortBy(_.getName)
    assert(leaves.length == 5)
    val namesBefore = leaves.map(l => l.getName -> parquetNames(l)).toMap
    assert(namesBefore.count(_._2.size == 5) == 2, namesBefore)
    val before = rowMultiset(out)
    Load.compact(spark, out, 2)
    leaves.foreach { l =>
      if (grown(l.getName.stripPrefix("o_orderpriority=")))
        assert(parquetNames(l).size == 2, l.getName)
      else assert(parquetNames(l) == namesBefore(l.getName), l.getName)
    }
    // no flat files, no staging left behind; rows identical
    val top = new java.io.File(out).listFiles().map(_.getName)
    assert(top.filter(_.startsWith("o_orderpriority=")).length == 5, top.mkString(","))
    assert(!top.exists(n => n.endsWith(".parquet") || n.startsWith(".compacting-") ||
      n.startsWith(".precompact-")), top.mkString(","))
    assert(rowMultiset(out) == before)
    val urgent = spark.read.parquet(out).filter($"o_orderpriority" === "1-URGENT")
    val plan = urgent.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"), plan)
  }}

  test("staging siblings are invisible to readers and recovered by compact") { withTempDir("graft-compact-stage") { tmp =>
    import java.nio.file.Paths
    import org.apache.commons.io.FileUtils
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.resolve("t").toString
    orders.repartition(3).write.partitionBy("o_orderpriority").parquet(out)
    val rows = spark.read.parquet(out).count()
    // mid-write state: a full staged copy of one partition beside it
    val urgent = Paths.get(out, "o_orderpriority=1-URGENT")
    val staged = Paths.get(out, ".compacting-o_orderpriority=1-URGENT")
    FileUtils.copyDirectory(urgent.toFile, staged.toFile)
    assert(spark.read.parquet(out).count() == rows)
    // crash state: another partition's original stranded at its backup name
    val high = Paths.get(out, "o_orderpriority=2-HIGH")
    val stranded = Paths.get(out, ".precompact-o_orderpriority=2-HIGH")
    Files.move(high, stranded)
    Load.compact(spark, out, 1)
    assert(!Files.exists(staged) && !Files.exists(stranded) && Files.exists(high))
    assert(spark.read.parquet(out).count() == rows)
    assert(parquetNames(high.toFile).size == 1)
  }}

  test("compaction merges evolved schemas: no column is dropped on rewrite") { withTempDir("graft-compact-merge") { tmp =>
    def evolved(): String = {
      val out = Files.createTempDirectory(tmp, "evolved").resolve("t").toString
      Seq((1L, "a"), (2L, "b")).toDF("k", "v1").coalesce(1).write.parquet(out)
      Seq((3L, 30.0), (4L, 40.0)).toDF("k", "v2").coalesce(1)
        .write.mode("append").parquet(out)
      out
    }
    def assertMerged(out: String): Unit = {
      val files = parquetNames(new java.io.File(out))
      assert(files.size == 1, files)
      // the one output FILE carries both columns — not a read-time merge
      val back = spark.read.parquet(s"$out/${files.head}")
      assert(back.columns.toSet == Set("k", "v1", "v2"), back.columns.mkString(","))
      assert(back.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      assert(back.filter($"v1".isNotNull && $"v2".isNotNull).isEmpty)
    }
    val compacted = evolved()
    Load.compact(spark, compacted, 1)
    assertMerged(compacted)
    // the planned path too: one bin over a flat table's only leaf, part ""
    val planned = evolved()
    val manifest = Load.parquetManifest(spark, planned)
    val plan = graft.operators.Layout
      .compactionPlan(manifest.select("part", "file_id", "bytes"), Long.MaxValue)
      .join(manifest.select("part", "file_id", "file"), Seq("part", "file_id"))
    assert(Load.executeCompaction(spark, planned, "", plan) == 1)
    assertMerged(planned)
  }}

  test("parquetManifest lists every leaf of a two-level layout") { withTempDir("graft-manifest2") { tmp =>
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.resolve("t").toString
    orders.repartition(2).write.partitionBy("o_orderstatus", "o_orderpriority").parquet(out)
    val manifest = Load.parquetManifest(spark, out).collect()
    val leaves = Files.walk(java.nio.file.Paths.get(out)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
    assert(manifest.length == leaves.length && leaves.length > 0)
    assert(manifest.map(_.getString(2)).toSet == leaves.map(_.toString).toSet)
    manifest.foreach { r =>
      val part = r.getString(0)
      assert(part.matches("o_orderstatus=[^/]+/o_orderpriority=[^/]+"), part)
      assert(r.getString(2).startsWith(s"$out/$part/"))
      assert(r.getLong(3) == Files.size(java.nio.file.Paths.get(r.getString(2))))
    }
    // file_id is 0..n-1 by name within each leaf
    manifest.groupBy(_.getString(0)).values.foreach { rs =>
      val byId = rs.sortBy(_.getLong(1))
      assert(byId.map(_.getLong(1)).toSeq == byId.indices.map(_.toLong))
      assert(byId.map(_.getString(2)).toSeq == byId.map(_.getString(2)).sorted.toSeq)
    }
  }}

  test("z2 executed end-to-end: planned bins become exactly that many files, " +
    "and the zone-map scan fraction matches the plan's prediction") { withTempDir("graft-z2") { tmp =>
    import org.apache.spark.sql.functions._
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.resolve("t").toString
    // a partitioned table that has accumulated many small files
    orders.repartition(8).write.partitionBy("o_orderpriority").parquet(out)
    val manifest = Load.parquetManifest(spark, out)
    val parts = manifest.select("part").distinct().collect().map(_.getString(0))
    assert(parts.length == 5, parts.mkString(","))
    val part = parts.sorted.head
    val nFilesBefore = manifest.filter($"part" === part).count()
    assert(nFilesBefore == 8, s"$nFilesBefore files before")
    // plan ~3 files' worth of bytes per bin → fewer bins than files
    val targetBytes = manifest.filter($"part" === part)
      .agg(sum($"bytes")).collect()(0).getLong(0) / 3
    val plan = graft.operators.Layout
      .compactionPlan(manifest.select("part", "file_id", "bytes"), targetBytes)
      .join(manifest.select("part", "file_id", "file"), Seq("part", "file_id"))
    val plannedBins = plan.filter($"part" === part)
      .select("bin").distinct().count()
    assert(plannedBins > 1 && plannedBins < nFilesBefore,
      s"degenerate plan: $plannedBins bins")
    // the plan also predicts the post-compaction zone maps: each bin's
    // min/max is the extent of its constituent files
    val partDir = s"$out/$part"
    def fileStats(paths: String) = spark.read.parquet(paths)
      .groupBy(input_file_name().as("f"))
      .agg(min($"o_orderkey").as("lo"), max($"o_orderkey").as("hi"))
    val preStats = fileStats(partDir)
      .withColumn("fname", element_at(split($"f", "/"), -1))
      .orderBy("fname").collect()
    // manifest file_id is by-name order, matching fname order here
    val predictedBinExtents = plan.filter($"part" === part)
      .select($"file_id", $"bin").orderBy("file_id").collect()
      .map(r => (r.getLong(1), preStats(r.getLong(0).toInt)))
      .groupBy(_._1).map { case (bin, rs) =>
        bin -> (rs.map(_._2.getLong(1)).min, rs.map(_._2.getLong(2)).max)
      }
    // execute and check planned-vs-achieved
    val rowsBefore = spark.read.parquet(partDir).count()
    val achieved = Load.executeCompaction(spark, out, part, plan)
    assert(achieved == plannedBins, s"achieved $achieved vs planned $plannedBins")
    assert(spark.read.parquet(partDir).count() == rowsBefore)
    // zm1-style verdict: a range predicate must scan exactly the files
    // the plan's predicted bin extents said it would
    val keys = spark.read.parquet(partDir).select($"o_orderkey")
      .orderBy("o_orderkey").collect().map(_.getLong(0))
    val (lo, hi) = (keys(keys.length / 4), keys(keys.length / 2))
    val predictedScanned = predictedBinExtents.values
      .count { case (bLo, bHi) => bHi >= lo && bLo <= hi }
    val postScanned = fileStats(partDir).collect()
      .count(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
    assert(postScanned == predictedScanned,
      s"scanned $postScanned files vs predicted $predictedScanned")
    // whole-table integrity across the untouched partitions
    assert(spark.read.parquet(out).count() == orders.count())
  }}

  test("executeCompaction recovers from an interrupted previous attempt") { withTempDir("graft-z2r") { tmp =>
    import org.apache.spark.sql.functions._
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.resolve("t").toString
    orders.repartition(4).write.partitionBy("o_orderpriority").parquet(out)
    val manifest = Load.parquetManifest(spark, out)
    val part = manifest.select("part").distinct().collect()
      .map(_.getString(0)).sorted.head
    val plan = graft.operators.Layout
      .compactionPlan(manifest.select("part", "file_id", "bytes"), Long.MaxValue)
      .join(manifest.select("part", "file_id", "file"), Seq("part", "file_id"))
    val rowsBefore = spark.read.parquet(s"$out/$part").count()
    // simulate a crash after the first move: original stranded at
    // .precompact, no live partition dir
    val target = java.nio.file.Paths.get(out, part)
    val stranded = java.nio.file.Paths.get(out, ".precompact-" + part)
    java.nio.file.Files.move(target, stranded)
    assert(!java.nio.file.Files.exists(target))
    val achieved = Load.executeCompaction(spark, out, part, plan)
    // recovery restored the original before compacting; one bin → one file
    assert(achieved == 1)
    assert(spark.read.parquet(s"$out/$part").count() == rowsBefore)
    assert(!java.nio.file.Files.exists(stranded))
  }}

  test("executeCompaction is idempotent after a crash between swap and cleanup") { withTempDir("graft-z2i") { tmp =>
    val orders = graft.Tables.orders(spark, sf0001)
    val out = tmp.resolve("t").toString
    orders.repartition(4).write.partitionBy("o_orderpriority").parquet(out)
    val manifest = Load.parquetManifest(spark, out)
    val part = manifest.select("part").distinct().collect()
      .map(_.getString(0)).sorted.head
    val plan = graft.operators.Layout
      .compactionPlan(manifest.select("part", "file_id", "bytes"), Long.MaxValue)
      .join(manifest.select("part", "file_id", "file"), Seq("part", "file_id"))
    assert(Load.executeCompaction(spark, out, part, plan) == 1)
    val rows = spark.read.parquet(s"$out/$part").count()
    // simulate a crash AFTER the tmp→target swap but BEFORE rmTree(old):
    // target holds the compacted copy, a stranded .precompact backup
    // remains, and the plan's source files no longer exist
    val stranded = java.nio.file.Paths.get(out, ".precompact-" + part)
    Files.createDirectory(stranded)
    Files.write(stranded.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    // rerun must detect the completed swap: finish cleanup and report the
    // achieved count instead of re-reading vanished source paths
    assert(Load.executeCompaction(spark, out, part, plan) == 1)
    assert(!Files.exists(stranded))
    assert(spark.read.parquet(s"$out/$part").count() == rows)
  }}

  test("K1 JSON sink + K3 preview emit one object per row") { withTempDir("graft-json") { tmp =>
    val df = Seq(("x", 1), ("y", 2)).toDF("k", "v")
    val out = tmp.toString
    Load.json(df, out)
    assert(spark.read.json(out).count() == 2)
    val preview = Load.previewJson(df, 1)
    assert(preview.length == 1 && preview.head.startsWith("{"))
  }}

  test("K1 API envelope rejects an over-cap users frame loudly") {
    val users = (1 to 5).map(i => (i.toLong, s"u$i")).toDF("id", "name")
    val metrics = Seq((5L, 5L)).toDF("rows_in", "rows_out")
    val at = java.time.Instant.parse("2026-01-01T00:00:00Z")
    // at the cap: fine
    val ok = Load.apiEnvelope(users, metrics, fallbackUsed = false, at,
      maxRows = 5)
    assert(ok.contains(""""rows_in":5"""))
    // over the cap: throws instead of silently truncating / OOMing
    val e = intercept[IllegalArgumentException] {
      Load.apiEnvelope(users, metrics, fallbackUsed = false, at, maxRows = 4)
    }
    assert(e.getMessage.contains("maxRows"))
  }
}
