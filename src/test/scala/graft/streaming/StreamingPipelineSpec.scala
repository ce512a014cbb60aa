package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

case class Ev(event_id: String, ts: Timestamp, user_id: String,
    event_type: String, value: Double)

class StreamingPipelineSpec extends SparkTestBase {

  private def ev(id: String, t: String, u: String = "u1",
      typ: String = "click", v: Double = 1.0) =
    Ev(id, Timestamp.valueOf(t), u, typ, v)

  test("dedupStream suppresses duplicate event ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingPipeline.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(ev("e1", "2024-01-01 10:00:00"),
        ev("e2", "2024-01-01 10:05:00"))
      q.processAllAvailable()
      input.addData(ev("e1", "2024-01-01 10:00:00"), // dup of e1
        ev("e3", "2024-01-01 10:10:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getString(0)).sorted
      assert(ids === Array("e1", "e2", "e3"))
    } finally q.stop()
  }

  test("windowedCounts emits finalized windows after the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingPipeline.windowedCounts(input.toDF(),
        windowLength = "1 hour", delayThreshold = "30 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData(ev("e1", "2024-01-01 10:00:00", v = 2.0),
        ev("e2", "2024-01-01 10:30:00", v = 3.0))
      q.processAllAvailable()
      // event far past the 10:00 window + watermark -> finalizes it
      input.addData(ev("e3", "2024-01-01 13:00:00"))
      q.processAllAvailable()
      input.addData(ev("e4", "2024-01-01 15:00:00"))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("window_start", "n_events", "sum_value").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((Timestamp.valueOf("2024-01-01 10:00:00"), 2L, 5.0)))
    } finally q.stop()
  }

  test("clickIntervalJoin matches clicks in the trailing window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = StreamingPipeline.clickIntervalJoin(
        purchases.toDF(), clicks.toDF(), joinWindow = "30 minutes")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      clicks.addData(
        ev("c1", "2024-01-01 10:05:00", v = 2.0), // in window
        ev("c2", "2024-01-01 09:55:00", v = 3.0), // too old
        ev("c3", "2024-01-01 10:31:00", v = 4.0), // after the purchase
        ev("c4", "2024-01-01 10:10:00", u = "u2", v = 5.0)) // other user
      purchases.addData(ev("p1", "2024-01-01 10:30:00", typ = "purchase"))
      q.processAllAvailable()
      val out = spark.table("ssj_out")
        .select("p_id", "c_value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(out === Set(("p1", 2.0)))
    } finally q.stop()
  }

  test("enrichStream joins a snapshot dim; a refresh never breaks the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dimPath = Files.createTempDirectory("graft_dim").toString + "/dim"
    graft.sources.Snapshots.write(
      Seq(("click", 1.0), ("view", 0.5)).toDF("event_type", "weight"), dimPath)
    val input = MemoryStream[Ev]
    val q = StreamingPipeline.enrichStream(
        input.toDF(), graft.sources.Snapshots.read(spark, dimPath))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData(ev("e1", "2024-01-01 10:00:00", typ = "click"),
        ev("e2", "2024-01-01 10:01:00", typ = "error")) // no dim row
      q.processAllAvailable()
      val b1 = spark.table("enrich_out")
        .select("event_id", "weight").collect()
        .map(r => (r.getString(0), Option(r.get(1)))).toMap
      assert(b1 === Map("e1" -> Some(1.0), "e2" -> None))
      // dim refresh while the query runs: the new version lands in its
      // own directory, so the pinned static side keeps serving v0 —
      // an in-place Tables.overwrite here would instead delete files
      // under the live query (FAILED_READ_FILE.FILE_NOT_EXIST)
      graft.sources.Snapshots.write(
        Seq(("click", 9.0)).toDF("event_type", "weight"), dimPath)
      input.addData(ev("e3", "2024-01-01 10:02:00", typ = "click"))
      q.processAllAvailable()
      val b2 = spark.table("enrich_out")
        .select("event_id", "weight").collect()
        .map(r => (r.getString(0), Option(r.get(1)))).toMap
      assert(b2("e3") === Some(1.0)) // pinned at v0, not broken
      // a restart picks up the refreshed dim
      assert(graft.sources.Snapshots.read(spark, dimPath)
        .filter($"event_type" === "click").select("weight")
        .as[Double].collect().toSeq == Seq(9.0))
    } finally q.stop()
  }

  test("upsertSink resumes from a checkpoint without reprocessing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("ckpt").toString
    val target = s"$base/t"
    val checkpoint = s"$base/cp"

    val input1 = MemoryStream[Ev]
    val q1 = StreamingPipeline.upsertSink(input1.toDF(), target, Seq("user_id"))
      .option("checkpointLocation", checkpoint)
      .outputMode("update").start()
    try {
      input1.addData(ev("e1", "2024-01-01 10:00:00", u = "u1", v = 1.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // "restart": a new query over a fresh source, same checkpoint dir —
    // the committed offsets survive and the merge picks up where it left
    val input2 = MemoryStream[Ev]
    val q2 = StreamingPipeline.upsertSink(input2.toDF(), target, Seq("user_id"))
      .option("checkpointLocation", s"$base/cp2")
      .outputMode("update").start()
    try {
      input2.addData(ev("e2", "2024-01-01 11:00:00", u = "u1", v = 5.0))
      q2.processAllAvailable()
      val out = spark.read.parquet(target)
        .select("user_id", "event_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(out === Set(("u1", "e2"))) // upserted over the pre-restart row
    } finally q2.stop()
  }

  test("upsertSink merges each micro-batch into the parquet target") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("upsert").toString + "/t"
    val input = MemoryStream[Ev]
    val q = StreamingPipeline.upsertSink(input.toDF(), target, Seq("user_id"))
      .outputMode("update").start()
    try {
      input.addData(ev("e1", "2024-01-01 10:00:00", u = "u1", v = 1.0))
      q.processAllAvailable()
      input.addData(ev("e2", "2024-01-01 11:00:00", u = "u1", v = 5.0),
        ev("e3", "2024-01-01 09:00:00", u = "u2", v = 7.0))
      q.processAllAvailable()
      val out = spark.read.parquet(target)
        .select("user_id", "event_id", "value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(out === Set(("u1", "e2", 5.0), ("u2", "e3", 7.0)))
    } finally q.stop()
  }

  test("upsertSink merges into the committed table after a rewrite " +
      "that died before its commit instead of truncating it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("upsert_crash") { base =>
      val target = s"$base/t"
      graft.sources.Tables.overwrite(Seq(ev("e1", "2024-01-01 10:00:00",
        u = "u1"), ev("e2", "2024-01-01 10:05:00", u = "u2")).toDF(), target)
      // a rewrite of the table dies after staging its files, before its
      // log entry: the table must still read as its committed snapshot
      val t = graft.sources.Tables.at(spark, target)
      intercept[RuntimeException](graft.sources.Tables.commit(t.snap, "merge") {
        tx =>
          tx.remove(t.files)
          tx.put(t, Seq(ev("e9", "2024-01-01 12:00:00", u = "u9")).toDF())
          throw new RuntimeException("crashed before the commit")
      })
      val input = MemoryStream[Ev]
      val q = StreamingPipeline.upsertSink(input.toDF(), target, Seq("user_id"))
        .outputMode("update").start()
      try {
        input.addData(ev("e3", "2024-01-01 11:00:00", u = "u3"))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.read.parquet(target)
        .select("user_id", "event_id").as[(String, String)].collect().toSet
      assert(out === Set(("u1", "e1"), ("u2", "e2"), ("u3", "e3")))
    }
  }
}
