package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class ReplaySpec extends SparkTestBase {

  test("files replays one micro-batch per wave, in order, batchId = wave " +
      "index; an empty wave replays as an empty batch") {
    import spark.implicits._
    withTempDir("replay") { base =>
      // wave = id % 4 over ids that skip every id ≡ 2 (mod 4): wave 2 is
      // empty; wave -1 rows (negative ids) are outside the replay
      val frame = (Seq(-4L) ++ (0L until 40L).filter(_ % 4 != 2))
        .toDF("id").withColumn("tag", concat(lit("t"), col("id")))
        .withColumn("wave", when(col("id") >= 0, col("id") % 4)
          .otherwise(-1))
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      Replay.files(s"$base/root", frame, "wave", 4) { (batch, batchId) =>
        assert(batch.columns.toSeq === Seq("id", "tag"))
        seen += batchId -> batch.select("id").as[Long].collect().toSeq.sorted
      }
      assert(seen.map(_._1) === Seq(0L, 1L, 2L, 3L))
      seen.foreach { case (b, ids) =>
        assert(ids === (0L until 40L).filter(_ % 4 == b).filter(_ % 4 != 2))
      }
    }
  }

  test("files rethrows a failing onBatch") {
    import spark.implicits._
    withTempDir("replay") { base =>
      val frame = Seq(0L, 1L, 2L).toDF("id").withColumn("wave", col("id"))
      val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
      val e = intercept[Exception] {
        Replay.files(s"$base/root", frame, "wave", 3) { (_, batchId) =>
          batches += batchId
          if (batchId == 1L) throw new IllegalStateException("wave 1 refused")
        }
      }
      def causes(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: causes(t.getCause)
      assert(causes(e).exists(_.getMessage.contains("wave 1 refused")))
      assert(batches === Seq(0L, 1L)) // the stream stopped at the failure
    }
  }

  test("files writes nothing outside its root; the commit log is inside") {
    import spark.implicits._
    withTempDir("replay") { base =>
      val src = s"$base/src"
      Seq(1L, 2L, 3L).toDF("id").write.parquet(src)
      val frame = spark.read.parquet(src).withColumn("wave", col("id") % 2)
      def listing(d: String) = Files.list(Paths.get(d)).iterator.asScala.toSet
      val (baseBefore, srcBefore) = (listing(base), listing(src))
      val root = s"$base/root"
      Replay.files(root, frame, "wave", 2)((_, _) => ())
      assert(listing(base) === baseBefore + Paths.get(root))
      assert(listing(src) === srcBefore)
      assert(Files.exists(Paths.get(root, "_checkpoint", "commits", "1")))
    }
  }

  test("drain runs a stateful stream to completion and restores the conf") {
    val Provider = "spark.sql.streaming.stateStore.providerClass"
    val before = (spark.conf.getOption(Provider),
      spark.conf.get("spark.sql.shuffle.partitions"))
    val out = Replay.drain(spark, sfDir, "events", "complete",
        Map(Provider -> ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"))) { raw =>
      raw.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }
    val batch = graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(out.collect().toSet === batch.collect().toSet)
    assert((spark.conf.getOption(Provider),
      spark.conf.get("spark.sql.shuffle.partitions")) === before)
  }

  test("no query file stages, triggers or awaits a stream itself") {
    // every streamed gate goes through Replay: one place decides how a
    // replay is staged, triggered and awaited
    val root = Paths.get("src/main/scala/graft/queries")
    val files = Files.list(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, s"scanned only ${files.size} files under $root")
    val banned = Seq("readStream", "writeStream", "maxFilesPerTrigger",
      "awaitTermination")
    val offending = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") &&
        !code.startsWith("/*")
      if banned.exists(code.contains)
    } yield s"$f:${i + 1}: $code"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
