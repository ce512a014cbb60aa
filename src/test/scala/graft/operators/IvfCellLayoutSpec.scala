package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Closes the last prose-only ANN scale claim (IvfAnn Scaladoc: "the
  * corpus is written bucketed by cell so a probe reads nProbe buckets"):
  * the corpus is materialized hive-partitioned by cell and a probe's
  * scan is asserted — on the FILE SET, not the plan string alone — to
  * touch only the probed cells' files.
  */
class IvfCellLayoutSpec extends SparkTestBase {

  test("a probe reads only its nProbe cells' files from the cell-partitioned corpus") {
   withTempDir("graft_ivf_cells") { root =>
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val clusters = 8
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", clusters,
      iters = 1)
    IvfAnn.writePartitionedByCell(emb, "vec_id", "embedding", cents, root)
    val cs = CentroidState.collect(cents)
    // one query vector, its 2 nearest cells — the probe set
    val probeCells = emb.orderBy(col("vec_id")).limit(1)
      .select(explode(CentroidState.nearestCells(col("embedding"), cs, 2))
        .as("cell"))
      .collect().map(_.getInt(0)).toSeq
    assert(probeCells.length === 2)
    val pruned = IvfAnn.readCells(spark, root, probeCells)
    // partition pruning is in the scan, not a post-filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan.take(2000))
    // the touched FILE SET is exactly the probed cells' directories,
    // and strictly smaller than the corpus
    val touched = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(touched.nonEmpty)
    touched.foreach(f => assert(
      probeCells.exists(c => f.contains(s"cell=$c")), f))
    val allFiles = spark.read.parquet(root).select(input_file_name())
      .distinct().count()
    assert(touched.length < allFiles,
      s"probe touched ${touched.length} of $allFiles files — nothing pruned")
    // the pruned scan holds exactly the probed cells' vectors
    val expected = emb
      .select(CentroidState.nearestCell(col("embedding"), cs).as("cell"))
      .filter(col("cell").isin(probeCells: _*)).count()
    assert(pruned.count() === expected)
   }
  }

  test("searchPartitioned over the layout equals the in-memory search") {
   withTempDir("graft_ivf_search") { root =>
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", clusters = 8,
      iters = 1)
    IvfAnn.writePartitionedByCell(emb, "vec_id", "embedding", cents, root)
    val queries = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("neighbor"), round(col("cosine"), 9))
      .collect().map(_.toString).sorted.toSeq
    val viaLayout = canon(IvfAnn.searchPartitioned(spark, root, cents,
      "vec_id", "embedding", queries, "qid", "qv", k = 5, nProbe = 2))
    // in-memory search trains its own centroids from the same corpus
    // with the same deterministic seeding/iters — identical quantizer
    val viaMemory = canon(IvfAnn.search(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, clusters = 8, nProbe = 2, iters = 1))
    assert(viaLayout === viaMemory)
    graft.CacheScope.releaseAll()
   }
  }

  test("appendPartitionedByCell absorbs a delta batch equal to a one-shot write") {
   withTempDir("graft_ivf_append") { root =>
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    // quantizer trained on the BASE only — the append assigns against it
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val incremental = s"$root/incremental"
    val oneShot = s"$root/oneshot"
    IvfAnn.writePartitionedByCell(base, "vec_id", "embedding", cents,
      incremental)
    IvfAnn.appendPartitionedByCell(delta, "vec_id", "embedding", cents,
      incremental)
    IvfAnn.writePartitionedByCell(emb, "vec_id", "embedding", cents, oneShot)
    // every vector lands exactly once, in the same cell as the one-shot
    // write (same centroids => same assignment)
    val inc = spark.read.parquet(incremental)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    val one = spark.read.parquet(oneShot)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    assert(inc === one)
    assert(inc.map(_._1).distinct.length === emb.count())
    // a search over the appended layout equals one over the one-shot
    // layout, and delta vectors (vec_id % 5 == 0) are reachable
    val queries = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("neighbor"), round(col("cosine"), 9))
      .collect().map(_.toString).sorted.toSeq
    val viaInc = IvfAnn.searchPartitioned(spark, incremental, cents,
      "vec_id", "embedding", queries, "qid", "qv", k = 5, nProbe = 2)
    val incRows = canon(viaInc)
    assert(incRows === canon(IvfAnn.searchPartitioned(spark, oneShot, cents,
      "vec_id", "embedding", queries, "qid", "qv", k = 5, nProbe = 2)))
    assert(viaInc.filter(col("neighbor") % 5 === 0).count() > 0,
      "no appended (delta) vector ever surfaced as a neighbor")
    graft.CacheScope.releaseAll()
   }
  }

  test("compactCells restores one file per cell without changing content or search") {
   withTempDir("graft_ivf_compact") { root =>
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    // three generations: base write + two appends — cells accumulate files
    IvfAnn.writePartitionedByCell(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", cents, layout)
    IvfAnn.appendPartitionedByCell(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", cents, layout)
    IvfAnn.appendPartitionedByCell(emb.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", cents, layout)
    def dataFiles(): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(layout))
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.getFileName.toString)
        .map { case (cell, fs) => cell -> fs.length }
      finally stream.close()
    }
    val before = dataFiles()
    assert(before.values.exists(_ > 1),
      s"appends produced no multi-file cell: $before")
    val queries = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("neighbor"), round(col("cosine"), 9))
      .collect().map(_.toString).sorted.toSeq
    val preSearch = canon(IvfAnn.searchPartitioned(spark, layout, cents,
      "vec_id", "embedding", queries, "qid", "qv", k = 5, nProbe = 2))
    val preContent = spark.read.parquet(layout)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    IvfAnn.compactCells(spark, layout, "vec_id")
    val after = dataFiles()
    assert(after.values.forall(_ === 1),
      s"compaction left a multi-file cell: $after")
    assert(after.keySet === before.keySet, "compaction changed the cell set")
    val postContent = spark.read.parquet(layout)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    assert(postContent === preContent)
    assert(canon(IvfAnn.searchPartitioned(spark, layout, cents,
      "vec_id", "embedding", queries, "qid", "qv", k = 5, nProbe = 2))
      === preSearch)
    graft.CacheScope.releaseAll()
   }
  }

  test("retrainIfDrifted leaves an un-drifted layout untouched") {
   withTempDir("graft_ivf_nodrift") { root =>
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0) // same distribution
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    IvfAnn.writePartitionedByCell(base, "vec_id", "embedding", cents, layout)
    IvfAnn.appendPartitionedByCell(delta, "vec_id", "embedding", cents, layout)
    def fileSet(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(layout))
      try stream.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally stream.close()
    }
    val before = fileSet()
    val tagged = base.withColumn("gen", lit("base"))
      .unionByName(delta.withColumn("gen", lit("delta")))
    // delta drawn from the SAME distribution: ratio ≈ 1, far below tau
    val (outCents, retrained) = IvfAnn.retrainIfDrifted(spark, layout,
      tagged, "gen", "vec_id", "embedding", cents, clusters = 8,
      iters = 1, tau = 3.0)
    assert(!retrained, "drift gate fired on a same-distribution delta")
    assert(fileSet() === before, "no-retrain branch touched the layout")
    // the original quantizer comes back verbatim
    assert(CentroidState.collect(outCents).map(_.cell)
      === CentroidState.collect(cents).map(_.cell))
    graft.CacheScope.releaseAll()
   }
  }

  test("retrainIfDrifted rebuilds the layout under the retrained quantizer") {
   withTempDir("graft_ivf_retrain") { root =>
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    // shifted delta — the new-encoder-checkpoint staleness scenario
    val delta = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.5)).cast("float")).as("embedding"))
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    IvfAnn.writePartitionedByCell(base, "vec_id", "embedding", cents, layout)
    IvfAnn.appendPartitionedByCell(delta, "vec_id", "embedding", cents, layout)
    val tagged = base.withColumn("gen", lit("base"))
      .unionByName(delta.withColumn("gen", lit("delta")))
    val (outCents, retrained) = IvfAnn.retrainIfDrifted(spark, layout,
      tagged, "gen", "vec_id", "embedding", cents, clusters = 8,
      iters = 1, tau = 3.0)
    assert(retrained, "drift gate missed a +0.5-shifted delta")
    // the rebuilt layout holds every vector exactly once, assigned under
    // the RETRAINED centroids (not the stale ones)
    val cs = CentroidState.collect(outCents)
    val expected = tagged
      .select(col("vec_id"),
        CentroidState.nearestCell(col("embedding"), cs).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    val actual = spark.read.parquet(layout)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    assert(actual === expected)
    // and the retrained quantizer differs from the stale one
    assert(CentroidState.collect(outCents).map(_.cvec.toSeq)
      !== CentroidState.collect(cents).map(_.cvec.toSeq))
    graft.CacheScope.releaseAll()
   }
  }

  test("retrainIfDrifted applies pending deletes and carries mid-retrain " +
      "markers") {
   withTempDir("graft_ivf_retrain_ts") { root =>
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.5)).cast("float")).as("embedding"))
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    IvfAnn.writePartitionedByCell(base, "vec_id", "embedding", cents, layout)
    IvfAnn.appendPartitionedByCell(delta, "vec_id", "embedding", cents, layout)
    // vec 1 is forgotten BEFORE the retrain: the rebuild reads the
    // caller's corpus (which still contains it), so without filterLive
    // the publish would resurrect it and destroy its marker
    IvfAnn.deleteFromCells(spark, layout, Seq(1L).toDF("vec_id"), "vec_id")
    val tagged = base.withColumn("gen", lit("base"))
      .unionByName(delta.withColumn("gen", lit("delta")))
    // vec 2 is forgotten DURING the retrain: its marker must be carried
    val (outCents, retrained) = IvfAnn.retrainIfDrifted(spark, layout,
      tagged, "gen", "vec_id", "embedding", cents, clusters = 8,
      iters = 1, tau = 3.0,
      () => IvfAnn.deleteFromCells(spark, layout,
        Seq(2L).toDF("vec_id"), "vec_id"))
    assert(retrained)
    val ids = spark.read.parquet(layout).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L),
      "pre-retrain delete must be applied physically, not resurrected")
    assert(IvfAnn.tombstones(spark, layout).isDefined,
      "the mid-retrain marker must survive the publish swap")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val served = IvfAnn.searchPartitioned(spark, layout, outCents,
        "vec_id", "embedding", queries, "qid", "qv", k = 5, nProbe = 8)
      .collect().map(_.getLong(1)).toSet
    assert(!served.contains(1L) && !served.contains(2L),
      "forgotten vectors must not serve after the retrain")
    graft.CacheScope.releaseAll()
   }
  }

  test("tombstoned deletes are invisible to search and applied by compaction") {
   withTempDir("graft_ivf_delete") { root =>
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", clusters = 8,
      iters = 1)
    IvfAnn.writePartitionedByCell(emb, "vec_id", "embedding", cents, root)
    val deleted = emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0)
      .select(col("vec_id"))
    IvfAnn.deleteFromCells(spark, root, deleted, "vec_id")
    // the layout scan itself still sees every row (markers are hidden)
    assert(spark.read.parquet(root).count() === emb.count())
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("neighbor"), round(col("cosine"), 9))
      .collect().map(_.toString).sorted.toSeq
    def searchNow() = canon(IvfAnn.searchPartitioned(spark, root, cents,
      "vec_id", "embedding", queries, "qid", "qv", k = 5, nProbe = 2))
    // oracle: in-memory search over the SURVIVING corpus under the SAME
    // (full-corpus-trained) centroids
    val survivors = emb.join(deleted, Seq("vec_id"), "left_anti")
    val cs = CentroidState.collect(cents)
    val assigned = survivors.select(col("vec_id"), col("embedding"),
      CentroidState.nearestCell(col("embedding"), cs).as("cell"))
    val expected = {
      val alt = root + "_expected"
      graft.sources.Tables.overwrite(assigned, alt, Seq("cell"))
      canon(IvfAnn.searchPartitioned(spark, alt, cents, "vec_id",
        "embedding", queries, "qid", "qv", k = 5, nProbe = 2))
    }
    val tombstonePhase = searchNow()
    assert(tombstonePhase === expected)
    assert(tombstonePhase.nonEmpty)
    // compaction applies the deletes physically and clears the markers
    IvfAnn.compactCells(spark, root, "vec_id")
    assert(spark.read.parquet(root).count() ===
      emb.count() - deleted.count())
    assert(IvfAnn.tombstones(spark, root).isEmpty)
    assert(searchNow() === expected)
    graft.CacheScope.releaseAll()
   }
  }
}
