package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

class SnapshotsSpec extends SparkTestBase {

  private def tmpTable(): String =
    Files.createTempDirectory("graft_snap").toString + "/t"

  test("write assigns consecutive versions and read returns the latest") {
    import spark.implicits._
    val path = tmpTable()
    assert(Snapshots.write(Seq((1, "a")).toDF("id", "s"), path) == 0L)
    assert(Snapshots.write(Seq((2, "b")).toDF("id", "s"), path) == 1L)
    assert(Snapshots.write(Seq((3, "c")).toDF("id", "s"), path) == 2L)
    assert(Snapshots.latestVersion(spark, path).contains(2L))
    assert(Snapshots.read(spark, path).select("s").as[String].collect()
      .toSeq == Seq("c"))
  }

  test("time travel reads any prior committed version") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "v0")).toDF("id", "s"), path)
    Snapshots.write(Seq((1, "v1"), (2, "v1")).toDF("id", "s"), path)
    assert(Snapshots.readVersion(spark, path, 0).count() == 1)
    assert(Snapshots.readVersion(spark, path, 1).count() == 2)
    assert(Snapshots.readVersion(spark, path, 0).select("s")
      .as[String].collect().toSeq == Seq("v0"))
  }

  test("a reader holding an old version survives a concurrent commit") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "old")).toDF("id", "s"), path)
    val held = Snapshots.read(spark, path) // lazy — not yet materialized
    Snapshots.write(Seq((9, "new")).toDF("id", "s"), path)
    // the immutable _v=0 dir is untouched by the new commit
    assert(held.select("s").as[String].collect().toSeq == Seq("old"))
    assert(Snapshots.read(spark, path).select("s").as[String].collect()
      .toSeq == Seq("new"))
  }

  test("history lists committed versions with stats, latest flagged") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "a")).toDF("id", "s"), path)
    Snapshots.write(Seq((2, "b"), (3, "c")).toDF("id", "s"), path)
    val h = Snapshots.history(spark, path)
      .select("version", "num_files", "is_latest")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(h.map(_._1).toSeq == Seq(0L, 1L))
    assert(h.forall(_._2 > 0))
    assert(h.collect { case (v, _, true) => v }.toSeq == Seq(1L))
  }

  test("vacuum keeps the retention window and never the latest") {
    import spark.implicits._
    val path = tmpTable()
    (0 until 5).foreach(i =>
      Snapshots.write(Seq((i, s"v$i")).toDF("id", "s"), path))
    val deleted = Snapshots.vacuum(spark, path, keepLast = 2)
    assert(deleted == Seq(0L, 1L, 2L))
    // survivors still readable; vacuumed versions gone
    assert(Snapshots.readVersion(spark, path, 3).count() == 1)
    assert(Snapshots.read(spark, path).select("s").as[String].collect()
      .toSeq == Seq("v4"))
    intercept[Exception](Snapshots.readVersion(spark, path, 0).collect())
    // keepLast clamps to 1: latest always survives
    assert(Snapshots.vacuum(spark, path, keepLast = 0) == Seq(3L))
    assert(Snapshots.read(spark, path).count() == 1)
  }

  test("restore re-commits an old version as the new latest") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "good")).toDF("id", "s"), path)
    Snapshots.write(Seq((1, "bad"), (2, "bad2")).toDF("id", "s"), path)
    val v = Snapshots.restore(spark, path, 0)
    assert(v == 2L)
    assert(Snapshots.read(spark, path).select("s").as[String].collect()
      .toSeq == Seq("good"))
    // history survives: the bad version is still time-travelable
    assert(Snapshots.readVersion(spark, path, 1).count() == 2)
    // and the restore itself diffs as the inverse of the bad commit
    val changes = Snapshots.diff(spark, path, 1, 2)
      .select("_change_type").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(changes === Map("insert" -> 1, "delete" -> 2))
  }

  test("diff tags version-to-version changes as insert/delete pairs") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"), path)
    // v1: row 2 updated, row 3 deleted, row 4 inserted
    Snapshots.write(Seq((1, "a"), (2, "B"), (4, "d")).toDF("id", "s"), path)
    val changes = Snapshots.diff(spark, path, 0, 1)
      .select("id", "s", "_change_type")
      .as[(Int, String, String)].collect().toSet
    assert(changes === Set(
      (2, "B", "insert"), (4, "d", "insert"),
      (2, "b", "delete"), (3, "c", "delete")))
    // identical versions diff empty
    assert(Snapshots.diff(spark, path, 1, 1).count() == 0)
  }

  test("commit versions arbitrary directory layouts under the same pointer") {
    import spark.implicits._
    val path = tmpTable()
    // a multi-artifact version: two files the single-DataFrame write
    // could never produce
    val v0 = Snapshots.commit(spark, path) { dir =>
      Seq((1, "a")).toDF("id", "s").write.parquet(s"$dir/cells")
      Seq((1, 0.5)).toDF("cell", "w").write.parquet(s"$dir/meta")
    }
    assert(v0 == 0L)
    assert(Snapshots.latestVersion(spark, path).contains(0L))
    val v1 = Snapshots.commit(spark, path) { dir =>
      Seq((2, "b")).toDF("id", "s").write.parquet(s"$dir/cells")
      Seq((2, 0.7)).toDF("cell", "w").write.parquet(s"$dir/meta")
    }
    assert(v1 == 1L)
    // pinned read of v0's artifacts is undisturbed by the v1 publish
    assert(spark.read.parquet(s"${Snapshots.versionPath(path, 0)}/cells")
      .select("s").as[String].collect().toSeq == Seq("a"))
    assert(spark.read.parquet(s"${Snapshots.versionPath(path, 1)}/cells")
      .select("s").as[String].collect().toSeq == Seq("b"))
  }

  test("a commit whose writer throws leaves no observable version") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "a")).toDF("id", "s"), path)
    intercept[RuntimeException] {
      Snapshots.commit(spark, path) { dir =>
        Seq((9, "x")).toDF("id", "s").write.parquet(s"$dir/cells")
        throw new RuntimeException("writer died mid-version")
      }
    }
    // the pointer never moved; the half-written dir is an orphan
    assert(Snapshots.latestVersion(spark, path).contains(0L))
    assert(Snapshots.read(spark, path).select("s").as[String].collect()
      .toSeq == Seq("a"))
    assert(Snapshots.vacuum(spark, path, keepLast = 3) == Seq(1L))
  }

  test("a commit whose writer writes no file fails loudly and publishes " +
      "no version") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "a")).toDF("id", "s"), path)
    intercept[IllegalArgumentException](Snapshots.commit(spark, path)(_ => ()))
    assert(Snapshots.latestVersion(spark, path).contains(0L))
    assert(Snapshots.read(spark, path).select("s").as[String].collect()
      .toSeq == Seq("a"))
  }

  test("an orphaned snapshot dir (crash before pointer move) is invisible and vacuumed") {
    import spark.implicits._
    val path = tmpTable()
    Snapshots.write(Seq((1, "a")).toDF("id", "s"), path)
    // simulate a crash: snapshot dir exists past the pointer, no commit
    Seq((2, "b")).toDF("id", "s").write.parquet(s"$path/_v=1")
    assert(Snapshots.latestVersion(spark, path).contains(0L))
    assert(Snapshots.read(spark, path).select("s").as[String].collect()
      .toSeq == Seq("a"))
    assert(!Snapshots.history(spark, path).select("version")
      .as[Long].collect().contains(1L))
    assert(Snapshots.vacuum(spark, path, keepLast = 3) == Seq(1L))
  }

  test("a commit whose log version is taken meanwhile moves to the next " +
      "one; every committed version stays readable") {
    import spark.implicits._
    // a racing committer that commits REAL rows while another commit is
    // mid-write, both copying files into their version dir (the
    // Scratch.copyDir writer of the q124/q148/q164 gates): each version
    // must hold exactly its own committer's rows
    val raced = tmpTable()
    Snapshots.write(Seq((1, "a")).toDF("id", "s"), raced)
    def staged(s: String) = {
      val d = Files.createTempDirectory("graft_snap_src").toString + "/d"
      Tables.overwrite(Seq((2, s)).toDF("id", "s"), d)
      d
    }
    val (racerRows, firstRows) = (staged("racer"), staged("first"))
    var racer = -1L
    val first = Snapshots.commit(spark, raced) { dir =>
      racer = Snapshots.commit(spark, raced)(
        graft.Scratch.copyDir(racerRows, _))
      graft.Scratch.copyDir(firstRows, dir)
    }
    def rows(v: Long) = Snapshots.readVersion(spark, raced, v)
      .select("s").as[String].collect().toSeq
    assert(racer !== first)
    assert(rows(racer) == Seq("racer"))
    assert(rows(first) == Seq("first"))
    assert(Snapshots.history(spark, raced).select("version").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(Snapshots.latestVersion(spark, raced).contains(first))
    assert(rows(0) == Seq("a"))
  }
}
