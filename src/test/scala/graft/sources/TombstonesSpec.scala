package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the tombstone lifecycle invariants the index layers rely on
  * (round-8 advice): re-admitted ids drop their stale markers, deletes
  * committed during a compaction survive its commit, and the
  * probe-time anti-join only force-broadcasts small marker sets.
  */
class TombstonesSpec extends SparkTestBase {

  import spark.implicits._

  private def ids(xs: Long*) = xs.toDF("id")

  private def unmark(path: String, readmitted: Long*): Unit = {
    val t = Tables.at(spark, path)
    Tables.commit(t.snap, "unmark")(
      Tombstones.unmark(_, t, ids(readmitted: _*), "id"))
  }

  private def markerSet(path: String): Set[Long] =
    Tombstones.read(spark, path)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)

  test("unmark clears exactly the re-admitted ids, keeps the rest") {
    val path = graft.Scratch.fresh("ts_unmark") + "/layout"
    Tables.overwrite(ids(1L, 2L, 3L), path)
    Tombstones.write(spark, path, ids(1L, 2L), "id")
    assert(markerSet(path) === Set(1L, 2L))
    unmark(path, 2L, 9L)
    assert(markerSet(path) === Set(1L))
    // the surviving marker still masks its row at probe time
    val live = Tombstones.filterLive(Tables.at(spark, path),
      spark.read.parquet(path), "id").collect().map(_.getLong(0)).toSet
    assert(live === Set(2L, 3L))
  }

  private def markerFiles(path: String): Set[String] =
    Option(new java.io.File(s"$path/${Tombstones.Dir}").list())
      .map(_.filter(_.startsWith("part-")).toSet).getOrElse(Set.empty)

  test("unmark with no matching marker rewrites nothing") {
    val path = graft.Scratch.fresh("ts_unmark_noop") + "/layout"
    Tables.overwrite(ids(1L), path)
    Tombstones.write(spark, path, ids(1L), "id")
    val before = markerFiles(path)
    unmark(path, 7L, 8L)
    assert(markerFiles(path) === before)
    assert(markerSet(path) === Set(1L))
  }

  test("a compaction keeps exactly the markers committed after its read") {
    val path = graft.Scratch.fresh("ts_late") + "/layout"
    Tables.overwrite(ids(1L, 2L, 3L), path)
    Tombstones.write(spark, path, ids(1L), "id")
    // a compactor reads… meanwhile a delete lands
    val t = Tables.at(spark, path)
    val live = Tombstones.filterLive(t, t.df, "id")
    Tombstones.write(spark, path, ids(3L), "id")
    Tables.commit(t.snap, "compact") { tx =>
      tx.remove(t.files ++ Tombstones.markers(t).files)
      tx.put(t, live)
    }
    // ONLY the late delete stays pending — the markers it read were
    // applied physically by the rewrite they were removed with
    assert(markerSet(path) === Set(3L))
    assert(markerFiles(path).size === 1)
    assert(Tables.read(spark, path).collect().map(_.getLong(0)).toSet ===
      Set(2L, 3L))
  }

  test("filterLive stops force-broadcasting past the marker byte bound") {
    val path = graft.Scratch.fresh("ts_bcast") + "/layout"
    Tables.overwrite(ids(1L, 2L, 3L), path)
    Tombstones.write(spark, path, ids(2L), "id")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    val small = Tombstones.filterLive(Tables.at(spark, path),
      spark.read.parquet(path), "id")
    assert(planOf(small).contains("broadcast"),
      s"small marker set should hint broadcast:\n${planOf(small)}")
    // shrink the bound instead of writing 64 MB of markers
    val guarded = Tombstones.filterLive(Tables.at(spark, path),
      spark.read.parquet(path), "id", maxBroadcastBytes = 0L)
    assert(!planOf(guarded).contains("broadcast"),
      s"oversized marker set must not force-broadcast:\n${planOf(guarded)}")
    // semantics identical either way
    assert(guarded.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }
}
