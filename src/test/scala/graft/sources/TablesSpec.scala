package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

class TablesSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  test("CSV and JSONL round-trip with explicit schemas") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 0.0))
      .toDF("id", "name", "score")
    val dir = Files.createTempDirectory("fmt").toString
    df.write.option("header", "true").csv(s"$dir/csv")
    df.write.json(s"$dir/jsonl")

    val fromCsv = Tables.loadCsv(spark, s"$dir/csv", schema)
    val fromJson = Tables.loadJsonl(spark, s"$dir/jsonl", schema)
    assert(fromCsv.schema === schema)
    assert(fromJson.schema === schema)
    val expect = df.collect().map(_.toString).sorted.toSeq
    assert(fromCsv.collect().map(_.toString).sorted.toSeq === expect)
    assert(fromJson.collect().map(_.toString).sorted.toSeq === expect)
  }

  test("exists recovers a swap interrupted between overwrite's renames") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rec").toString + "/t"
    Seq(1, 2).toDF("x").write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash after `dst -> __old__` but before `tmp -> dst`
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".__old__"))
    assert(Tables.exists(spark, dir), "exists must restore the table")
    assert(spark.read.parquet(dir).count() === 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__old__")))
  }

  test("overwrite survives being fed from its own path (read-overwrite)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ow").toString + "/t"
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    // derive from the same path we are about to overwrite — the staged
    // swap must not destroy the input before the new data is materialized
    val doubled = spark.read.parquet(dir).withColumn("x", col("x") * 2)
    Tables.overwrite(doubled, dir)
    assert(spark.read.parquet(dir).select("x").collect()
      .map(_.getInt(0)).sorted.toSeq === Seq(2, 4, 6))
    // staging artifacts cleaned up
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(Tables.staged(dir))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__old__")))
  }

  test("replace carries a late append-only file exactly once and never " +
      "copies a listed one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("carry").toString + "/t"
    // a TextIndex-shaped table: data in bkt=0, additive stats in bkt=-2
    Seq((0, 5L), (-2, 100L)).toDF("bkt", "n").write.partitionBy("bkt")
      .parquet(dir)
    val input = spark.read.parquet(dir) // the rewrite's one listing
    // a concurrent writer appends a stats row after the listing
    Seq((-2, -7L)).toDF("bkt", "n").write.mode("append").partitionBy("bkt")
      .parquet(dir)
    Tables.replace(spark, dir, input.inputFiles, Seq("bkt=-2"))(
      input.write.partitionBy("bkt").parquet(_))
    val stats = spark.read.parquet(dir).filter(col("bkt") === -2)
      .select("n").as[Long].collect().sorted.toSeq
    assert(stats === Seq(-7L, 100L))
    assert(spark.read.parquet(dir).filter(col("bkt") === 0).count() === 1)
    assert(new java.io.File(s"$dir/bkt=-2").list()
      .count(_.startsWith("part-")) === 2)
  }

  test("no directory rewrite outside graft.sources forks replace's " +
      "protocol") {
    // a hand-rolled stage/carry/swap elsewhere would bypass the carry and
    // the stale-stage clear: no rename-chain call, no staged-suffix literal
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.startsWith(root.resolve("graft/sources"))).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val suffix = """\.__\w+__""".r
    val offending = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") &&
        !code.startsWith("/*")
      if code.contains("Tables.publish") || suffix.findFirstIn(code).nonEmpty
    } yield s"$f:${i + 1}: $code"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
