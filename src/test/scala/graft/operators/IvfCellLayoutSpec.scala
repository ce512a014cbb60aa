package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** Closes the last prose-only ANN scale claim (IvfAnn Scaladoc: "the
  * corpus is written partitioned by cell so a probe reads nProbe
  * cells"): the index root's `cells` table is hive-partitioned by cell
  * and a probe's scan is asserted — on the FILE SET, not the plan string
  * alone — to touch only the probed cells' files. The lifecycle cases
  * pin the index root: one log, one commit per call, and a search that
  * serves whatever quantizer the root's snapshot holds.
  */
class IvfCellLayoutSpec extends SparkTestBase {

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def queries(n: Int) = emb.filter(col("vec_id") < n)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def canon(df: DataFrame) = df
    .select(col("qid"), col("neighbor"), round(col("cosine"), 9))
    .collect().map(_.toString).sorted.toSeq

  private def search(dir: String, nProbe: Int = 2, nQueries: Int = 16) =
    IvfAnn.searchIndex(spark, dir, "vec_id", "embedding",
      queries(nQueries), "qid", "qv", k = 5, nProbe = nProbe)

  /** `(vec_id, cell)` of the index's cells table, sorted. */
  private def placement(dir: String) = Tables.read(spark, s"$dir/cells")
    .select(col("vec_id"), col("cell")).collect()
    .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq

  private def storedCentroids(dir: String) =
    CentroidState.collect(Tables.read(spark, s"$dir/centroids"))

  /** The base generation and a +0.5-shifted delta — the
    * new-encoder-checkpoint staleness scenario that fires the drift gate.
    */
  private def drifted = {
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.5)).cast("float")).as("embedding"))
    val tagged = base.withColumn("gen", lit("base"))
      .unionByName(delta.withColumn("gen", lit("delta")))
    (base, delta, tagged)
  }

  test("a probe reads only its nProbe cells' files from the cell-partitioned corpus") {
   withTempDir("graft_ivf_cells") { root =>
    val clusters = 8
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", clusters,
      iters = 1)
    IvfAnn.writeIndex(emb, "vec_id", "embedding", cents, root)
    val cs = CentroidState.collect(cents)
    // one query vector, its 2 nearest cells — the probe set
    val probeCells = emb.orderBy(col("vec_id")).limit(1)
      .select(explode(CentroidState.nearestCells(col("embedding"), cs, 2))
        .as("cell"))
      .collect().map(_.getInt(0)).toSeq
    assert(probeCells.length === 2)
    val pruned = Tables.read(spark, s"$root/cells")
      .filter(col("cell").isin(probeCells: _*))
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
    val allFiles = spark.read.parquet(s"$root/cells")
      .select(input_file_name()).distinct().count()
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
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", clusters = 8,
      iters = 1)
    IvfAnn.writeIndex(emb, "vec_id", "embedding", cents, root)
    // in-memory search trains its own centroids from the same corpus
    // with the same deterministic seeding/iters — identical quantizer
    val viaMemory = canon(IvfAnn.search(emb, "vec_id", "embedding",
      queries(16), "qid", "qv", k = 5, clusters = 8, nProbe = 2, iters = 1))
    assert(canon(search(root)) === viaMemory)
    graft.CacheScope.releaseAll()
   }
  }

  test("appendPartitionedByCell absorbs a delta batch equal to a one-shot write") {
   withTempDir("graft_ivf_append") { root =>
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    // quantizer trained on the BASE only — the append assigns against
    // the stored copy of it
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val incremental = s"$root/incremental"
    val oneShot = s"$root/oneshot"
    IvfAnn.writeIndex(base, "vec_id", "embedding", cents, incremental)
    IvfAnn.appendIndex(delta, "vec_id", "embedding", incremental)
    IvfAnn.writeIndex(emb, "vec_id", "embedding", cents, oneShot)
    // every vector lands exactly once, in the same cell as the one-shot
    // write (same centroids => same assignment)
    val inc = placement(incremental)
    assert(inc === placement(oneShot))
    assert(inc.map(_._1).distinct.length === emb.count())
    // a search over the appended index equals one over the one-shot
    // index, and delta vectors (vec_id % 5 == 0) are reachable
    val viaInc = search(incremental)
    assert(canon(viaInc) === canon(search(oneShot)))
    assert(viaInc.filter(col("neighbor") % 5 === 0).count() > 0,
      "no appended (delta) vector ever surfaced as a neighbor")
    graft.CacheScope.releaseAll()
   }
  }

  test("compactCells restores one file per cell without changing content or search") {
   withTempDir("graft_ivf_compact") { root =>
    val cents = IvfAnn.centroids(emb, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    // three generations: base write + two appends — cells accumulate files
    IvfAnn.writeIndex(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", cents, layout)
    IvfAnn.appendIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", layout)
    IvfAnn.appendIndex(emb.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", layout)
    def dataFiles(): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$layout/cells"))
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.getFileName.toString)
        .map { case (cell, fs) => cell -> fs.length }
      finally stream.close()
    }
    val before = dataFiles()
    assert(before.values.exists(_ > 1),
      s"appends produced no multi-file cell: $before")
    val preSearch = canon(search(layout))
    val preContent = placement(layout)
    IvfAnn.compactIndex(spark, layout, "vec_id")
    val after = dataFiles()
    assert(after.values.forall(_ === 1),
      s"compaction left a multi-file cell: $after")
    assert(after.keySet === before.keySet, "compaction changed the cell set")
    assert(placement(layout) === preContent)
    assert(canon(search(layout)) === preSearch)
    graft.CacheScope.releaseAll()
   }
  }

  test("retrainIfDrifted leaves an un-drifted layout untouched") {
   withTempDir("graft_ivf_nodrift") { root =>
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0) // same distribution
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    IvfAnn.writeIndex(base, "vec_id", "embedding", cents, layout)
    IvfAnn.appendIndex(delta, "vec_id", "embedding", layout)
    def fileSet(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(layout))
      try stream.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") || p.endsWith(".json")).toSet
      finally stream.close()
    }
    val before = fileSet()
    val tagged = base.withColumn("gen", lit("base"))
      .unionByName(delta.withColumn("gen", lit("delta")))
    // delta drawn from the SAME distribution: ratio ≈ 1, far below tau
    val retrained = IvfAnn.retrainIfDrifted(spark, layout, tagged, "gen",
      "vec_id", "embedding", clusters = 8, iters = 1, tau = 3.0)
    assert(!retrained, "drift gate fired on a same-distribution delta")
    assert(fileSet() === before,
      "no-retrain branch touched the index or committed")
    // the stored quantizer is the original one
    assert(storedCentroids(layout).map(c => c.cell -> c.cvec.toSeq) ===
      CentroidState.collect(cents).map(c => c.cell -> c.cvec.toSeq))
    graft.CacheScope.releaseAll()
   }
  }

  test("retrainIfDrifted rebuilds the layout under the retrained quantizer") {
   withTempDir("graft_ivf_retrain") { root =>
    val (base, delta, tagged) = drifted
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    IvfAnn.writeIndex(base, "vec_id", "embedding", cents, layout)
    IvfAnn.appendIndex(delta, "vec_id", "embedding", layout)
    assert(IvfAnn.retrainIfDrifted(spark, layout, tagged, "gen", "vec_id",
      "embedding", clusters = 8, iters = 1, tau = 3.0),
      "drift gate missed a +0.5-shifted delta")
    // the stored quantizer is the one trained on the full live corpus…
    val cs = CentroidState.collect(IvfAnn.centroids(
      tagged.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      clusters = 8, iters = 1))
    assert(storedCentroids(layout).map(c => c.cell -> c.cvec.toSeq) ===
      cs.map(c => c.cell -> c.cvec.toSeq))
    // …it differs from the stale one…
    assert(cs.map(_.cvec.toSeq) !==
      CentroidState.collect(cents).map(_.cvec.toSeq))
    // …and the rebuilt layout holds every vector exactly once, assigned
    // under it
    val expected = tagged
      .select(col("vec_id"),
        CentroidState.nearestCell(col("embedding"), cs).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    assert(placement(layout) === expected)
    graft.CacheScope.releaseAll()
   }
  }

  test("searchIndex after a drift retrain serves the retrained centroids") {
   withTempDir("graft_ivf_retrain_serve") { root =>
    val (base, delta, tagged) = drifted
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val idx = s"$root/idx"
    IvfAnn.writeIndex(base, "vec_id", "embedding", cents, idx)
    IvfAnn.appendIndex(delta, "vec_id", "embedding", idx)
    assert(IvfAnn.retrainIfDrifted(spark, idx, tagged, "gen", "vec_id",
      "embedding", clusters = 8, iters = 1, tau = 3.0))
    // a fresh index of the same live corpus under the retrained
    // quantizer, trained here independently of the retrained root
    val live = tagged.select(col("vec_id"), col("embedding"))
    val fresh = s"$root/fresh"
    IvfAnn.writeIndex(live, "vec_id", "embedding",
      IvfAnn.centroids(live, "vec_id", "embedding", clusters = 8,
        iters = 1), fresh)
    val want = canon(search(fresh, nQueries = 12))
    assert(want.length === 60)
    assert(canon(search(idx, nQueries = 12)) === want,
      "a search after the retrain must probe under the retrained centroids")
    graft.CacheScope.releaseAll()
   }
  }

  test("each lifecycle call is one commit on the index's one log root") {
   withTempDir("graft_ivf_root") { root =>
    import spark.implicits._
    val (base, delta, tagged) = drifted
    val idx = s"$root/idx"
    def logs(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString == "_log").map(_.toString).toSeq
      finally stream.close()
    }
    def version() = Tables.root(spark, idx).version
    val steps = Seq[(String, () => Unit)](
      "write" -> (() => IvfAnn.writeIndex(base, "vec_id", "embedding",
        IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
          iters = 1), idx)),
      "append" -> (() => IvfAnn.appendIndex(delta, "vec_id", "embedding",
        idx)),
      "delete" -> (() => IvfAnn.deleteFromIndex(spark, idx,
        Seq(1L).toDF("vec_id"), "vec_id")),
      "compact" -> (() => IvfAnn.compactIndex(spark, idx, "vec_id")),
      "retrain" -> (() => assert(IvfAnn.retrainIfDrifted(spark, idx, tagged,
        "gen", "vec_id", "embedding", clusters = 8, iters = 1, tau = 3.0))))
    steps.foreach { case (op, run) =>
      val v = version()
      run()
      assert(logs() === Seq(s"$idx/_log"), s"after $op")
      assert(version() === v + 1, s"$op must be exactly one commit")
      assert(Tables.root(spark, idx).log.last._2.operation === op)
    }
    graft.CacheScope.releaseAll()
   }
  }

  test("retrainIfDrifted applies pending deletes and carries mid-retrain " +
      "markers") {
   withTempDir("graft_ivf_retrain_ts") { root =>
    import spark.implicits._
    val (base, delta, tagged) = drifted
    val cents = IvfAnn.centroids(base, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val layout = s"$root/layout"
    IvfAnn.writeIndex(base, "vec_id", "embedding", cents, layout)
    IvfAnn.appendIndex(delta, "vec_id", "embedding", layout)
    // vec 1 is forgotten BEFORE the retrain: the rebuild reads the
    // caller's corpus (which still contains it), so without filterLive
    // the publish would resurrect it and destroy its marker
    IvfAnn.deleteFromIndex(spark, layout, Seq(1L).toDF("vec_id"), "vec_id")
    // vec 2 is forgotten DURING the retrain: its marker must be carried
    val retrained = IvfAnn.retrainIfDrifted(spark, layout,
      tagged, "gen", "vec_id", "embedding", clusters = 8,
      iters = 1, tau = 3.0,
      () => IvfAnn.deleteFromIndex(spark, layout,
        Seq(2L).toDF("vec_id"), "vec_id"))
    assert(retrained)
    assert(!placement(layout).exists(_._1 == 1L),
      "pre-retrain delete must be applied physically, not resurrected")
    assert(IvfAnn.tombstones(spark, layout).isDefined,
      "the mid-retrain marker must survive the publish swap")
    val served = search(layout, nProbe = 8, nQueries = 8)
      .collect().map(_.getLong(1)).toSet
    assert(!served.contains(1L) && !served.contains(2L),
      "forgotten vectors must not serve after the retrain")
    graft.CacheScope.releaseAll()
   }
  }

  test("tombstoned deletes are invisible to search and applied by compaction") {
   withTempDir("graft_ivf_delete") { root =>
    val small = emb.filter(col("vec_id") < 200)
    val cents = IvfAnn.centroids(small, "vec_id", "embedding", clusters = 8,
      iters = 1)
    val idx = s"$root/idx"
    IvfAnn.writeIndex(small, "vec_id", "embedding", cents, idx)
    val deleted = small.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0)
      .select(col("vec_id"))
    IvfAnn.deleteFromIndex(spark, idx, deleted, "vec_id")
    // the cells scan itself still sees every row (markers are hidden)
    assert(spark.read.parquet(s"$idx/cells").count() === small.count())
    def searchNow() = canon(search(idx, nQueries = 8))
    // oracle: a search over the SURVIVING corpus under the SAME
    // (full-corpus-trained) centroids
    val expected = {
      val alt = s"$root/expected"
      IvfAnn.writeIndex(small.join(deleted, Seq("vec_id"), "left_anti"),
        "vec_id", "embedding", cents, alt)
      canon(search(alt, nQueries = 8))
    }
    val tombstonePhase = searchNow()
    assert(tombstonePhase === expected)
    assert(tombstonePhase.nonEmpty)
    // compaction applies the deletes physically and clears the markers
    IvfAnn.compactIndex(spark, idx, "vec_id")
    assert(spark.read.parquet(s"$idx/cells").count() ===
      small.count() - deleted.count())
    assert(IvfAnn.tombstones(spark, idx).isEmpty)
    assert(searchNow() === expected)
    graft.CacheScope.releaseAll()
   }
  }
}
