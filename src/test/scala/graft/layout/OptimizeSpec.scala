package graft.layout

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

class OptimizeSpec extends SparkTestBase {

  test("cluster compacts to the target file count and range-sorts rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("opt").toString + "/t"
    Tables.overwrite((1 to 10000).map(i => ((i * 7919) % 10000, s"v$i"))
      .toDF("k", "v").repartition(16), dir)
    assert(Optimize.describeDetail(spark, dir)._1 === 16L)

    Optimize.cluster(spark, dir, Seq("k"), targetFiles = 2)
    val (files, bytes) = Optimize.describeDetail(spark, dir)
    assert(files === 2L)
    assert(bytes > 0L)
    // clustering effect: each file covers a disjoint range of k ->
    // min/max windows per file are narrow (data skipping works)
    val perFile = spark.read.parquet(dir)
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(perFile.length === 2)
    assert(perFile(0)._2 <= perFile(1)._1) // ranges do not interleave
    // content preserved
    assert(spark.read.parquet(dir).count() === 10000)
  }

  test("cluster with partitionCols preserves the hive layout and the data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("optp").toString + "/t"
    Tables.overwrite((1 to 5000).map(i => ((i * 7919) % 5000, i % 3, s"v$i"))
      .toDF("k", "year", "v").repartition(8), dir, Seq("year"))
    val before = spark.read.parquet(dir)
      .select("k", "year", "v").collect().map(_.toString).sorted

    Optimize.cluster(spark, dir, Seq("k"), targetFiles = 2,
      partitionCols = Seq("year"))

    // hive-style partition directories survive the rewrite
    val sub = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("year=")).sorted
    assert(sub === Array("year=0", "year=1", "year=2"))
    // content preserved exactly
    val after = spark.read.parquet(dir)
      .select("k", "year", "v").collect().map(_.toString).sorted
    assert(after === before)
    // no staging dirs left behind: the log holds only its entries
    assert(new java.io.File(s"$dir/_log").list()
      .forall(_.matches("""\.?\d+\.json(\.crc)?""")))
    // the layout's whole point: a partition-key predicate prunes the scan
    // to one directory (PartitionFilters, no data files from other years)
    val pruned = spark.read.parquet(dir).filter(col("year") === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(year"), scan.take(1500))
    assert(pruned.select(input_file_name()).distinct()
      .collect().forall(_.getString(0).contains("year=1")))
  }

  test("analyze records row count and size in the catalog") {
    import spark.implicits._
    val dir = Files.createTempDirectory("an").toString + "/t"
    Tables.overwrite((1 to 500).toDF("x"), dir)
    val (rows, bytes) = Optimize.analyze(spark, dir, "opt_spec_t")
    assert(rows === Some(BigInt(500)))
    assert(bytes.exists(_ > 0))
  }
}
