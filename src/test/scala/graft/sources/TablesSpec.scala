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

  /** The `.parquet` files under `root`, relative to it. */
  private def parquetFiles(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    val s = Files.walk(base)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(base.relativize(_).toString).toSet
    finally s.close()
  }

  test("exists answers from the log; a commit that dies before its entry " +
      "leaves the previous snapshot serving and no stray file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("crash").toString + "/t"
    assert(!Tables.exists(spark, dir))
    Tables.overwrite(Seq(1, 2).toDF("x"), dir)
    assert(Tables.exists(spark, dir))
    val t = Tables.at(spark, dir)
    intercept[RuntimeException] {
      Tables.commit(t.snap, "overwrite") { tx =>
        tx.remove(t.files)
        tx.put(t, Seq(7, 8, 9).toDF("x"))
        throw new RuntimeException("writer died before the commit")
      }
    }
    assert(Tables.read(spark, dir).as[Int].collect().sorted.toSeq ===
      Seq(1, 2))
    assert(parquetFiles(dir) === t.files.map(_.path).toSet)
    // the next operation on the root commits over the same snapshot
    Tables.append(Seq(3).toDF("x"), dir)
    val after = Tables.at(spark, dir)
    assert(after.df.as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    assert(parquetFiles(dir) === after.files.map(_.path).toSet)
    // the log holds its entries and nothing else
    assert(new java.io.File(s"$dir/_log").list()
      .forall(_.matches("""\.?\d+\.json(\.crc)?""")))
  }

  test("overwrite survives being fed from its own path (read-overwrite)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ow").toString + "/t"
    Tables.overwrite(Seq(1, 2, 3).toDF("x"), dir)
    // derive from the same path we are about to overwrite — the old
    // files must outlive the write that reads them
    val doubled = Tables.read(spark, dir).withColumn("x", col("x") * 2)
    Tables.overwrite(doubled, dir)
    assert(Tables.read(spark, dir).select("x").collect()
      .map(_.getInt(0)).sorted.toSeq === Seq(2, 4, 6))
    // the replaced files are gone: a plain directory scan agrees
    assert(spark.read.parquet(dir).select("x").collect()
      .map(_.getInt(0)).sorted.toSeq === Seq(2, 4, 6))
  }

  test("a rewrite keeps a file appended after its read exactly once and " +
      "drops every file it read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("late").toString + "/t"
    // a TextIndex-shaped table: data in bkt=0, additive stats in bkt=-2
    Tables.overwrite(Seq((0, 5L), (-2, 100L)).toDF("bkt", "n"), dir,
      Seq("bkt"))
    val t = Tables.at(spark, dir) // the rewrite's read
    // a concurrent writer appends a stats row after the read
    Tables.append(Seq((-2, -7L)).toDF("bkt", "n"), dir, Seq("bkt"))
    Tables.commit(t.snap, "rewrite") { tx =>
      tx.remove(t.files)
      tx.put(t, t.df, Seq("bkt"))
    }
    val stats = Tables.read(spark, dir).filter(col("bkt") === -2)
      .select("n").as[Long].collect().sorted.toSeq
    assert(stats === Seq(-7L, 100L))
    assert(Tables.read(spark, dir).filter(col("bkt") === 0).count() === 1)
    assert(new java.io.File(s"$dir/bkt=-2").list()
      .count(_.startsWith("part-")) === 2)
    assert(parquetFiles(dir) === Tables.at(spark, dir).files.map(_.path).toSet)
  }

  test("of two rewrites from one snapshot the second fails loudly and " +
      "deletes its files; appends never conflict") {
    import spark.implicits._
    val dir = Files.createTempDirectory("race").toString + "/t"
    Tables.overwrite(Seq(1, 2).toDF("x"), dir)
    val t = Tables.at(spark, dir)
    def rewrite(v: Int) = Tables.commit(t.snap, "rewrite") { tx =>
      tx.remove(t.files)
      tx.put(t, Seq(v).toDF("x"))
    }
    Tables.append(Seq(3).toDF("x"), dir) // committed after the read
    rewrite(10)
    intercept[java.io.IOException](rewrite(20))
    assert(Tables.read(spark, dir).as[Int].collect().sorted.toSeq ===
      Seq(3, 10))
    assert(parquetFiles(dir) === Tables.at(spark, dir).files.map(_.path).toSet)
  }

  test("rewrites racing on two threads: exactly one wins, the loser " +
      "fails loudly and leaves no file; racing appends both land") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors}
    val dir = Files.createTempDirectory("race2").toString + "/t"
    Tables.overwrite(Seq(0).toDF("x"), dir)
    val pool = Executors.newFixedThreadPool(2)
    def race[A](ops: Seq[() => A]): Seq[scala.util.Try[A]] = {
      val go = new CountDownLatch(1)
      val fs = ops.map(op => pool.submit(() => { go.await(); scala.util.Try(op()) }))
      go.countDown()
      fs.map(_.get())
    }
    try {
      for (round <- 1 to 3) {
        val t = Tables.at(spark, dir)
        val out = race(Seq(1, 2).map(i => () => {
          Tables.commit(t.snap, "rewrite") { tx =>
            tx.remove(t.files)
            tx.put(t, Seq(round * 10 + i).toDF("x"))
          }
          round * 10 + i
        }))
        assert(out.count(_.isSuccess) === 1, out)
        assert(out.exists(_.failed.toOption.exists(_.isInstanceOf[java.io.IOException])))
        assert(Tables.read(spark, dir).as[Int].collect().toSeq ===
          out.flatMap(_.toOption))
        assert(parquetFiles(dir) === Tables.at(spark, dir).files.map(_.path).toSet)
      }
      val before = Tables.at(spark, dir).snap.version
      assert(race(Seq(100, 200).map(x => () =>
        Tables.append(Seq(x).toDF("x"), dir))).forall(_.isSuccess))
      assert(Tables.at(spark, dir).snap.version === before + 2)
      assert(Tables.read(spark, dir).as[Int].collect().toSet.intersect(
        Set(100, 200)) === Set(100, 200))
    } finally pool.shutdown()
  }

  test("an entry still being written is waited for, never read as empty") {
    import spark.implicits._
    val dir = Files.createTempDirectory("partial").toString + "/t"
    Tables.overwrite(Seq(1).toDF("x"), dir)
    val t = Tables.at(spark, dir)
    // version 1 exists but is empty: its writer has not written it yet
    val entry = java.nio.file.Paths.get(s"$dir/_log/1.json")
    Files.write(entry, Array.emptyByteArray)
    assert(intercept[java.io.IOException](Tables.at(spark, dir))
      .getMessage.contains("unfinished"))
    // its writer finishes it, with a remove of the file a rewrite reads
    val body = Seq(Action(remove = Some(t.files.head.path)),
      Action(commitInfo = Some(CommitInfo("compact", 0L, 0L, Seq(""), 0L,
        0L, 0L, 0L)))).map(Log.mapper.writeValueAsString).mkString("\n")
    val finisher = new Thread(() => {
      Thread.sleep(300)
      val tmp = Files.write(entry.resolveSibling(".1.json.tmp"), body.getBytes)
      Files.move(tmp, entry, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    })
    finisher.start()
    // a rewrite from version 0 that finds version 1 taken waits for it,
    // sees the overlapping remove and loses
    val e = intercept[java.io.IOException](Tables.commit(t.snap, "rewrite") { tx =>
      tx.remove(t.files)
      tx.put(t, Seq(2).toDF("x"))
    })
    finisher.join()
    assert(e.getMessage.contains("already removed"), e.getMessage)
    assert(Tables.at(spark, dir).snap.version === 1L)
    assert(Tables.at(spark, dir).files.isEmpty)
  }

  test("a root deleted and written again resolves from its new log") {
    import spark.implicits._
    val dir = Files.createTempDirectory("reborn").toString + "/t"
    Tables.overwrite(Seq(1).toDF("x"), dir)
    Tables.append(Seq(2).toDF("x"), dir)
    assert(Tables.read(spark, dir).count() === 2)
    for (x <- Seq(3, 4)) {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      Tables.overwrite(Seq(x).toDF("x"), dir)
      assert(Tables.read(spark, dir).as[Int].collect().toSeq === Seq(x))
    }
  }

  test("log reads keep the directory read's schema for every layout") {
    import spark.implicits._
    val root = graft.Scratch.fresh("schemas")
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val emb = Tables.load(spark, sfDir, "embeddings")
    val sh = docs.select(col("doc_id"), graft.operators.MinHashLSH
      .shingleHashes(graft.functions.Text.tokens(col("text")), 3).as("sh"))
    graft.operators.TextIndex.write(docs, "doc_id", "text", s"$root/ti",
      withPositions = true)
    graft.operators.TextIndex.delete(spark, s"$root/ti",
      Seq(1L).toDF("doc_id"), "doc_id")
    graft.operators.LshIndex.write(sh, "doc_id", "sh", s"$root/lsh")
    graft.operators.SimHashIndex.write(docs.select(col("doc_id"),
      transform(graft.functions.Text.tokens(col("text")), s =>
        (graft.functions.Text.charHash(s) * lit(2654435761L)) %
          lit(4294967296L)).as("hs")), "doc_id", "hs", s"$root/simhash")
    val cents = graft.operators.IvfAnn.centroids(emb, "vec_id",
      "embedding", 4, 1)
    graft.operators.IvfAnn.writeIndex(emb, "vec_id", "embedding", cents,
      s"$root/ivf")
    graft.operators.IvfPq.writeIndex(emb, "vec_id", "embedding",
      s"$root/pq", clusters = 4, m = 8, dim = 64, codes = 8)
    graft.operators.ScalarQuantizer.writeIndex(emb, "vec_id", "embedding",
      s"$root/sq")
    graft.operators.BinaryQuantizer.writeIndex(emb, "vec_id", "embedding",
      s"$root/bq")
    graft.pipeline.SeismicPipeline.runIncremental(spark, sfDir,
      s"$root/work")
    val layouts = Seq("ti/postings", "ti/postings/_tombstones", "lsh",
      "simhash", "ivf/cells", "ivf/centroids", "pq/cells", "pq/coarse",
      "pq/codebook", "sq/codes", "sq/stats", "bq/codes", "bq/mids",
      "work/silver_events", "work/gold_band_summary",
      "work/control_watermark")
    layouts.foreach { l =>
      assert(Tables.read(spark, s"$root/$l").schema ===
        spark.read.parquet(s"$root/$l").schema, l)
    }
    graft.CacheScope.releaseAll()
  }

  test("joining two same-bucketed tables plans no shuffle exchange") {
    import spark.implicits._
    val facts = (1 to 10000).map(i => (i % 500, s"f$i")).toDF("k", "payload")
    val dims = (0 until 500).map(i => (i, s"d$i")).toDF("k", "attr")
    val t = Tables.at(spark, graft.Scratch.fresh("bucketed_join"))
    Tables.commit(t.snap, "write") { tx =>
      tx.put(t.sub("facts"), facts, bucketing = Some(Bucketing(8, Seq("k"))))
      tx.put(t.sub("dims"), dims, bucketing = Some(Bucketing(8, Seq("k"))))
    }
    // disable auto-broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = Tables.root(spark, t.path)
      val joined = s.table("facts").df.join(s.table("dims").df, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected exchange-free bucketed join, got:\n$plan")
      assert(joined.count() === 10000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("fixture loads take the schema inference would pick, with no job") {
    import spark.implicits._
    def expected(path: String): StructType =
      StructType(spark.read.parquet(path).schema.map(f =>
        if (f.name == "ts" && f.dataType == LongType)
          f.copy(dataType = TimestampType) else f))
    def check(dir: String, name: String): Unit = {
      var got: StructType = null
      val m = graft.Metrics.measure(spark) {
        got = Tables.load(spark, dir, name).schema
      }
      assert(m.jobs === 0, s"$dir/$name: ${m.spans.map(_.site)}")
      assert(got === expected(s"$dir/$name.parquet"), s"$dir/$name")
    }
    Tables.fixtureTables.foreach(check(sfDir, _))
    withTempDir("footers") { d =>
      // a Spark-written directory: _SUCCESS, checksums, several parts
      Tables.load(spark, sfDir, "orders").repartition(3)
        .write.parquet(s"$d/spark/orders.parquet")
      assert(new java.io.File(s"$d/spark/orders.parquet").list()
        .count(_.startsWith("part-")) === 3)
      check(s"$d/spark", "orders")
      // a landing directory of one-file slices whose schemas differ: the
      // first by path decides, whichever was written first
      val land = Files.createDirectories(
        java.nio.file.Paths.get(s"$d/land/events.parquet"))
      Seq(2 -> Seq("a", "b", "c"), 0 -> Seq("a", "b"), 1 -> Seq("a"))
        .foreach { case (k, cols) =>
          val out = s"$d/slice$k"
          Seq((1L, "x", 2.0)).toDF("a", "b", "c").select(cols.map(col): _*)
            .coalesce(1).write.parquet(out)
          val part = new java.io.File(out).listFiles()
            .find(_.getName.startsWith("part-")).get.toPath
          Files.copy(part, land.resolve(f"slice_$k%05d.parquet"))
        }
      check(s"$d/land", "events")
      assert(Tables.load(spark, s"$d/land", "events").columns.toSeq ===
        Seq("a", "b"))
      // a summary file, which inference samples before any data file:
      // read as before, so the schema is still Spark's own
      Files.copy(land.resolve("slice_00002.parquet"),
        land.resolve("_common_metadata"))
      val summarized = Tables.load(spark, s"$d/land", "events").schema
      assert(summarized === expected(s"$d/land/events.parquet"))
      assert(summarized.fieldNames.toSeq === Seq("a", "b", "c"))
      // no data file: Spark's own inference error, as before
      Files.createDirectories(java.nio.file.Paths.get(s"$d/empty/t.parquet"))
      Files.createFile(java.nio.file.Paths.get(s"$d/empty/t.parquet/_SUCCESS"))
      intercept[org.apache.spark.sql.AnalysisException](
        Tables.load(spark, s"$d/empty", "t"))
    }
  }

  test("no code outside graft.sources reads or writes parquet paths " +
      "directly or forks the commit protocol") {
    // a managed directory read by listing, or written around the log,
    // would bypass the log's snapshot: no parquet read/write call, no
    // rename-chain suffix, no marker file name and no catalog table
    // (created, read, renamed or dropped) in operators, pipeline, state
    // or queries
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = Seq("operators", "pipeline", "state", "queries")
      .flatMap(d => Files.walk(root.resolve(d)).iterator.asScala)
      .filter(_.toString.endsWith(".scala"))
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val banned = Seq(".parquet(", "__tmp__", "__old__", "_claim=", "_commit=",
      "saveAsTable", "bucketBy", "spark.table(", "DROP TABLE", "ALTER TABLE")
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
