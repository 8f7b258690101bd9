package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

import graft.util.Fs.rmTree

/** The one fixture-replay module. Every `run*OverFixture` replays a finite
  * input through Structured Streaming to prove parity with its batch twin;
  * this module owns the mechanics, and each replay keeps only its stream
  * transform and the post-processing of the result.
  *
  * The contract, for every replay:
  *  - Micro-batches follow file modification order. The stager writes
  *    batch i under `b<i>` of a fresh `graft-stream-<name>` temp dir and
  *    gives its files an mtime 60 s before batch i+1's.
  *  - Read-back: it then reads every mtime back and fails unless each batch
  *    is strictly older than the next. A filesystem with a coarser mtime
  *    tick could otherwise fire a sentinel first, advance the watermark
  *    past the data and drop every real row as late.
  *  - Sentinel: an optional last batch, built from the data's bounds on the
  *    layout key, lands past the data end. It advances the event-time
  *    watermark so the replay's timers and buffered outer rows flush; the
  *    replay filters it from its result. An input with no bounds fails
  *    here with an `IllegalArgumentException` naming the stream.
  *  - Reader: the layout decides it. A single-batch layout reads as ONE
  *    micro-batch (no `maxFilesPerTrigger`); a multi-batch layout reads one
  *    file per trigger.
  *  - Shuffle scope: `spark.sql.shuffle.partitions` is sized to the
  *    replay's state ([[EventStream.withStateSizedShuffle]]) from query
  *    start until `processAllAvailable` returns and the query stops. Spark
  *    pins the value when the query starts, and a `foreachBatch` fold plans
  *    its own jobs with it.
  *  - Cleanup: staging through `stop()` runs in one `try`, and its
  *    `finally` removes the temp dir. A memory sink's temp view is dropped;
  *    the returned frame still reads the sink's rows. The drain returns
  *    only after `stop()`, so no stream-thread job outlives the call. */
private[streaming] object Replay {

  /** Builds the sentinel batch from the data's (min, max) on the layout key. */
  type Sentinel = (Long, Long) => DataFrame

  /** What a replay stages, in micro-batch order. `data` is the input as a
    * batch frame and `key` the long column its bounds are taken on. */
  sealed trait Layout { def data: DataFrame }
  /** The parquet `file` (whose rows are `data`) copied `copies` times as
    * one micro-batch, then optionally the sentinel as a second. */
  final case class Copied(file: String, data: DataFrame, key: Column,
      copies: Int = 1, sentinel: Option[Sentinel] = None) extends Layout
  /** Three equal-width ranges of the long `key` over `data`, one
    * micro-batch each, then optionally the sentinel. */
  final case class Ranged(data: DataFrame, key: Column,
      sentinel: Option[Sentinel] = None) extends Layout
  /** `data` (the rows of `file`) round-robin into `files` files, one per
    * micro-batch in whatever order the source lists them. For an
    * order-free fold only: it runs no bounds job and pins no mtime. */
  final case class Spread(file: String, data: DataFrame, files: Int) extends Layout

  /** A staged replay: `batches` micro-batches under `dir`, the input's
    * `rows` (which size the state partitions), and its bounds `lo`/`hi` on
    * the layout key (0 where nothing needed them). */
  final case class Staged(dir: Path, schema: StructType, batches: Int,
                          rows: Long, lo: Long, hi: Long) {
    /** The staged batches as a stream, read as the layout decides. */
    def read(spark: SparkSession): DataFrame = {
      val r = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
      (if (batches > 1) r.option("maxFilesPerTrigger", "1") else r).parquet(dir.toString)
    }
  }

  /** Run one replay into a memory sink: `query` turns the staged stream
    * into the stream transform, written in `outputMode`. Returns the sink's
    * rows, its temp view already dropped, and the staging facts. */
  def toMemory(spark: SparkSession, name: String, layout: Layout,
      outputMode: String = "append")(query: Staged => Dataset[_]): (DataFrame, Staged) = {
    // unique per run: a fixed sink name is shared session state, so a
    // repeated or concurrent replay would fail to start or read the other
    // run's rows
    val sink = s"graft_stream_${slug(name)}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val staged = drain(spark, name, layout)(st =>
      query(st).writeStream.outputMode(outputMode).format("memory").queryName(sink))
    val rows = spark.table(sink)
    spark.catalog.dropTempView(sink)
    (rows, staged)
  }

  /** Run one replay through a `foreachBatch` fold: `onBatch` sees each
    * micro-batch of `query`'s stream in batch order, on the stream thread. */
  def fold(spark: SparkSession, name: String, layout: Layout)(
      query: Staged => DataFrame)(onBatch: DataFrame => Unit): Unit =
    drain(spark, name, layout)(st =>
      query(st).writeStream.foreachBatch((batch: DataFrame, _: Long) => onBatch(batch)))

  private def drain(spark: SparkSession, name: String, layout: Layout)(
      writer: Staged => DataStreamWriter[_]): Staged = {
    val dir = Files.createTempDirectory(s"graft-stream-${slug(name)}")
    try {
      val staged = stage(layout, dir, name)
      EventStream.withStateSizedShuffle(spark, staged.rows) {
        val q = writer(staged).start()
        try q.processAllAvailable() finally q.stop()
      }
      staged
    } finally rmTree(dir)
  }

  private def slug(name: String): String = name.stripSuffix("Stream").toLowerCase

  /** Write `layout`'s batches under `dir` and pin their order. `stamp`
    * sets one file's mtime; a spec substitutes a coarse-tick filesystem. */
  private[streaming] def stage(layout: Layout, dir: Path, name: String,
      stamp: (Path, Long) => Unit = (f, ms) => Files.setLastModifiedTime(f, FileTime.fromMillis(ms))
    ): Staged = {
    def batch(i: Int) = dir.resolve(s"b$i")
    def footerRows(file: String) = graft.Tables.parquetRowCount(layout.data.sparkSession, file)
    def bounds(data: DataFrame, key: Column): (Long, Long, Long) = {
      val b = data.agg(count(lit(1)), min(key), max(key)).head
      require(!b.isNullAt(1), s"$name: input has no non-null $key " +
        s"(${b.getLong(0)} rows), so there is no range to stage micro-batches from")
      (b.getLong(0), b.getLong(1), b.getLong(2))
    }
    // append the sentinel batch, then pin the mtime order and read it back
    def pinned(st: Staged, sentinel: Option[Sentinel]): Staged = {
      sentinel.foreach(_(st.lo, st.hi).coalesce(1).write.parquet(batch(st.batches).toString))
      val batches = st.batches + sentinel.size
      val files = (0 until batches).map { i =>
        val walk = Files.walk(batch(i))
        try walk.iterator.asScala.filter(Files.isRegularFile(_)).toVector finally walk.close()
      }
      val now = System.currentTimeMillis()
      for ((fs, i) <- files.zipWithIndex; f <- fs) stamp(f, now - 60000L * (batches - i))
      val mtimes = files.map(_.map(Files.getLastModifiedTime(_).toMillis))
      for (i <- 1 until batches)
        require(mtimes(i - 1).max < mtimes(i).min,
          s"$name: fixture mtime order not preserved by this filesystem: " +
            s"batch ${i - 1} at ${mtimes(i - 1).max} ms, batch $i at ${mtimes(i).min} ms")
      st.copy(batches = batches)
    }
    layout match {
      case Spread(file, data, files) =>
        data.repartition(files).write.parquet(batch(0).toString)
        Staged(dir, data.schema, files, footerRows(file), 0L, 0L)
      case Copied(file, data, key, copies, sentinel) =>
        val (rows, lo, hi) =
          if (sentinel.isEmpty) (footerRows(file), 0L, 0L) else bounds(data, key)
        Files.createDirectory(batch(0))
        for (c <- 0 until copies) Files.copy(Paths.get(file), batch(0).resolve(s"copy$c.parquet"))
        pinned(Staged(dir, data.schema, 1, rows, lo, hi), sentinel)
      case Ranged(data, key, sentinel) =>
        val (rows, lo, hi) = bounds(data, key)
        val span = (hi - lo) / 3 + 1
        for (i <- 0 until 3)
          data.filter(key >= lo + i * span && key < lo + (i + 1) * span)
            .coalesce(1).write.parquet(batch(i).toString)
        pinned(Staged(dir, data.schema, 3, rows, lo, hi), sentinel)
    }
  }
}
