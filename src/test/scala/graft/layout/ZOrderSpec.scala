package graft.layout

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.expressions.ZOrderInterleave

class ZOrderSpec extends SparkTestBase {

  test("interleave matches a bit-by-bit reference and is monotone in cells") {
    def reference(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val samples = for (a <- 0L to 40L; b <- 0L to 40L) yield (a, b)
    samples.foreach { case (a, b) =>
      assert(ZOrderInterleave.interleave(a, b, 8) == reference(a, b, 8))
    }
    // known values: a=0b11, b=0b00 -> 0b0101; a=0b00, b=0b11 -> 0b1010
    assert(ZOrderInterleave.interleave(3, 0, 2) == 5)
    assert(ZOrderInterleave.interleave(0, 3, 2) == 10)
    // quadrant property: the top interleaved bits ARE the quadrant, so
    // z-sorting groups quad-tree cells together
    assert(ZOrderInterleave.interleave(255, 255, 8) == (1L << 16) - 1)
  }

  test("second-dimension predicates skip z-clustered files but not lexicographic ones") {
    val root = Files.createTempDirectory("graft_z").toString
    // deterministic uniform grid over lat x lon (no rand())
    val df = spark.range(20000).select(
      (pmod(col("id") * 7919, lit(18000)) / 100.0 - 90.0).as("lat"),
      (pmod(col("id") * 104729, lit(36000)) / 100.0 - 180.0).as("lon"),
      col("id").as("payload"))
    graft.sources.Tables.overwrite(df, s"$root/lex")
    graft.sources.Tables.overwrite(df, s"$root/zord")
    Optimize.cluster(spark, s"$root/lex", Seq("lat", "lon"), targetFiles = 16)
    Optimize.clusterZ(spark, s"$root/zord",
      ("lat", -90.0, 90.0), ("lon", -180.0, 180.0), targetFiles = 16)

    // candidate files for a LON-only box, judged by per-file min/max —
    // exactly the row-group/file stats a scan consults for skipping
    def candidates(dir: String): (Int, Int) = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(fs.makeQualified(
        new org.apache.hadoop.fs.Path(dir)))
        .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      val hits = files.count { f =>
        val r = spark.read.parquet(f)
          .agg(min("lon").as("lo"), max("lon").as("hi")).collect()(0)
        // box: lon in [10, 20] — intersects [lo, hi]?
        !(r.getDouble(1) < 10.0 || r.getDouble(0) > 20.0)
      }
      (hits, files.length)
    }
    val (lexHits, lexFiles) = candidates(s"$root/lex")
    val (zHits, zFiles) = candidates(s"$root/zord")
    assert(lexFiles >= 8 && zFiles >= 8)
    // lexicographic (lat, lon) files each span the full lon range -> a
    // lon-only predicate prunes nothing; z-order bounds both dims
    assert(lexHits == lexFiles, s"lex $lexHits/$lexFiles")
    assert(zHits * 2 <= zFiles, s"z $zHits/$zFiles")
    // the layouts hold the same rows
    assert(spark.read.parquet(s"$root/lex").agg(sum("payload")).collect()(0)
      .getLong(0) ==
      spark.read.parquet(s"$root/zord").agg(sum("payload")).collect()(0)
        .getLong(0))
  }
}
