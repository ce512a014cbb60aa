package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The one driver for the engine's streamed oracle gates: every gate
  * that proves a batch result through a real Structured Streaming run
  * stages, triggers and awaits its stream here, so the coordination of
  * a replay (how many micro-batches, how they are ordered, where the
  * commit log lives) is decided in one place.
  *
  * Two shapes:
  *
  *  - [[files]]: an ordered sequence of waves staged as one file each
  *    and replayed one micro-batch per wave into a `foreachBatch`
  *    callback — index appends, sketch merges and order-dependent
  *    admission gates;
  *  - [[drain]]: a stateful streaming query over a fixture table run to
  *    completion into a memory sink — windowed, sessionized and
  *    arbitrary-state operators compared against a batch oracle.
  */
object Replay {

  /** State-store partition count of the drained stateful streams.
    * Stateful operators shard their state store by
    * `spark.sql.shuffle.partitions` at first start, AQE is off in
    * streaming, and production pins the value in the checkpoint forever
    * (it cannot change without a state rebuild) — so it is sized to
    * STATE volume, never derived from the executor count. The gates'
    * fixture state is O(100–1k) keys; 8 stores is already generous
    * (each store pays checkpoint fsync + provider init per micro-batch,
    * measured 2.4 s → 1.2 s on q56/q95 vs 32 stores).
    *
    * SIZING RULE (SCALING.md "Stateful-stream state partitions"):
    * partitions ≈ ceil(expected live state bytes / target store size),
    * with 0.5–2 GB per RocksDB store the healthy range, rounded up to a
    * multiple of the executor core count — e.g. ~1 TB of live session
    * state → ~1024 partitions. This value is fixture-sized, not
    * scale-neutral: a deployment sets its own in its checkpointed job.
    */
  val StatePartitions = 8

  /** Replay `frame` as `waves` micro-batches: row r belongs to wave
    * `r(waveCol)` (rows whose wave is null or outside `[0, waves)` are
    * not replayed), each wave is staged under `root` as ONE file — the
    * columns of `frame` without `waveCol` — with a strictly later
    * modification time than the one before, and an `AvailableNow`
    * stream with `maxFilesPerTrigger=1` delivers the files oldest-first.
    * So `onBatch(batch, batchId)` runs once per wave, in wave order,
    * with `batchId` equal to the wave index; an empty wave still
    * replays, as an empty micro-batch. Returns after the stream
    * terminates; a failure in `onBatch` fails the call. Everything the
    * replay writes (staged files, commit log) stays under `root`.
    */
  def files(root: String, frame: DataFrame, waveCol: String, waves: Int)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val spark = frame.sparkSession
    val staged = new Path(root, "_staged")
    val dir = new Path(root, "waves")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = frame.drop(waveCol).schema
    // one write for all waves: the exchange on the wave puts each wave
    // in exactly one task, and the partitioned writer gives it one file
    frame.filter(col(waveCol).between(0, waves - 1))
      .repartition(col(waveCol))
      .write.mode("overwrite").partitionBy(waveCol).parquet(staged.toString)
    def part(d: Path) = Option(fs.globStatus(new Path(d, "part-*")))
      .flatMap(_.headOption).map(_.getPath)
    fs.mkdirs(dir)
    (0 until waves).foreach { i =>
      val src = part(new Path(staged, s"$waveCol=$i")).getOrElse {
        val empty = new Path(staged, s"empty$i")
        spark.createDataFrame(java.util.Collections.emptyList[
          org.apache.spark.sql.Row](), schema)
          .write.parquet(empty.toString)
        part(empty).get
      }
      val dst = new Path(dir, f"wave$i%04d.parquet")
      require(fs.rename(src, dst), s"could not stage $src")
      fs.setTimes(dst, 1700000000000L + i * 60000L, -1)
    }
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .writeStream
      .option("checkpointLocation", new Path(root, "_checkpoint").toString)
      .foreachBatch(onBatch)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** The wave index of `c` under half-open `[lo, hi)` ranges, in order;
    * null outside all of them.
    */
  def ranges(c: Column, bounds: Seq[(Any, Any)]): Column =
    coalesce(bounds.zipWithIndex.map { case ((lo, hi), i) =>
      when(c >= lo && c < hi, i)
    }: _*)

  /** Stream the fixture table `dir/<table>.parquet` through `query`, run
    * it to completion into a memory sink under `outputMode`, and return
    * the sink's table. The stream runs with [[StatePartitions]] state
    * stores and with `conf` set; both are restored afterwards.
    */
  def drain(spark: SparkSession, dir: String, table: String,
      outputMode: String, conf: Map[String, String] = Map.empty)(
      query: DataFrame => DataFrame): DataFrame = {
    val file = s"$table.parquet"
    // the fixture table is a single FILE; the streaming file source
    // lists a DIRECTORY, so stream the parent with a name filter (and an
    // explicit schema: a streaming source cannot infer one)
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$dir/$file").schema)
      .option("pathGlobFilter", file)
      .parquet(dir)
    val sink = s"${table}_sink_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    withConf(spark, conf +
        ("spark.sql.shuffle.partitions" -> StatePartitions.toString)) {
      query(raw).writeStream.format("memory").queryName(sink)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    spark.table(sink)
  }

  private def withConf[T](spark: SparkSession, conf: Map[String, String])(
      body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
