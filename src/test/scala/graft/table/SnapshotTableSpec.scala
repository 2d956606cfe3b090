package graft.table

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  test("time travel and incremental read across commits") {
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val s1 = t.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq.empty)
    val s2 = t.commit(Seq((3, "c")).toDF("k", "v"), Seq.empty)
    val s3 = t.commit(Seq((4, "d"), (5, "e")).toDF("k", "v"), Seq.empty)

    assert(t.history() == Seq(s1, s2, s3))
    assert(t.currentSnapshotId.contains(s3))
    // commits are cumulative: current read = the whole committed table
    assert(t.read(spark).orderBy("k").select("k").as[Int].collect()
      .toSeq == Seq(1, 2, 3, 4, 5))
    // time travel: the table AS OF each snapshot
    assert(t.readAt(spark, s1).orderBy("k").as[(Int, String)].collect()
      .toSeq == Seq((1, "a"), (2, "b")))
    assert(t.readAt(spark, s2).orderBy("k").select("k").as[Int].collect()
      .toSeq == Seq(1, 2, 3))
    // delta view: only what one commit added
    assert(t.deltaAt(spark, s2).select("k").as[Int].collect().toSeq == Seq(3))
    // incremental: deltas after s1 (no re-read of s1's rows)
    val inc = t.readIncremental(spark, s1)
    assert(inc.orderBy("k").select("k").as[Int].collect().toSeq == Seq(3, 4, 5))
    // nothing after the newest
    assert(t.readIncremental(spark, s3).count() == 0)
  }

  test("add-column schema evolution: old commits read the new column as null") {
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val s1 = t.commit(Seq((1, "a")).toDF("k", "v"), Seq.empty)
    val s2 = t.commit(Seq((2, "b")).toDF("k", "v"), Seq.empty) // pre-evolution
    t.commit(Seq((3, "c", 9.5)).toDF("k", "v", "score"), Seq.empty)
    val out = t.read(spark).orderBy("k")
    assert(out.columns.toSet == Set("k", "v", "score"))
    assert(out.select("score").as[Option[Double]].collect()
      .toSeq == Seq(None, None, Some(9.5)))
    // incremental across the evolution boundary also aligns by name
    val inc = t.readIncremental(spark, s1).orderBy("k")
    assert(inc.select("k").as[Int].collect().toSeq == Seq(2, 3))
    // time travel to the pre-evolution snapshot keeps the old schema
    assert(t.readAt(spark, s2).columns.toSet == Set("k", "v"))
  }

  test("zero-row commit keeps the committed view readable") {
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val s1 = t.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq.empty)
    val df = Seq((1, "a")).toDF("k", "v")
    val s2 = t.commit(df.filter(col("k") > 100), Seq.empty) // empty delta
    assert(t.currentSnapshotId.contains(s2))
    // the empty commit neither hides prior data nor breaks inference
    assert(t.read(spark).count() == 2)
    assert(t.readAt(spark, s2).count() == 2)
    assert(t.deltaAt(spark, s2).count() == 0)
    assert(t.readIncremental(spark, s1).count() == 0)
    // a table whose FIRST commit is empty reads as empty, not an error
    val t2 = new SnapshotTable(tmpDir("snap-"))
    t2.commit(df.filter(col("k") > 100), Seq.empty)
    assert(t2.read(spark).count() == 0)
  }

  test("a manifest without data-paths fails loudly, naming the file") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val s1 = t.commit(Seq((1, "a")).toDF("k", "v"), Seq.empty)
    val manifest = Paths.get(root, "metadata", s"snapshot-$s1.json")
    val raw = new String(Files.readAllBytes(manifest), UTF_8)
    // drop the list; the single `data-path` key is still there
    val stripped = raw.replaceFirst(""""data-paths"\s*:\s*\[[^\]]*\],""", "")
    assert(stripped != raw && stripped.contains("\"data-path\""))
    Files.write(manifest, stripped.getBytes(UTF_8))
    val ex = intercept[IllegalStateException](t.dataPaths(s1))
    assert(ex.getMessage.contains(manifest.toString), ex.getMessage)
  }

  test("compaction rewrites the view into one dir; expiry reclaims dirs") {
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val s1 = t.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq.empty)
    val s2 = t.commit(Seq((3, "c")).toDF("k", "v"), Seq.empty)
    val s3 = t.commit(Seq((4, "d")).toDF("k", "v"), Seq.empty)
    assert(t.dataPaths(s3).size == 3, "pre-compaction: one dir per chunk")

    val c = t.compact(spark, Seq.empty)
    assert(t.dataPaths(c).size == 1, "compaction: single data dir")
    assert(t.read(spark).orderBy("k").select("k").as[Int].collect()
      .toSeq == Seq(1, 2, 3, 4))
    // time travel to a pre-compaction snapshot still works
    assert(t.readAt(spark, s2).count() == 3)
    // further appends chain off the compacted view
    t.commit(Seq((5, "e")).toDF("k", "v"), Seq.empty)
    assert(t.read(spark).count() == 5)

    // incremental across the compaction boundary: the rewrite is NOT a
    // delta — a consumer checkpointed at s3 sees only the post-compaction
    // append, never the whole rewritten history
    assert(t.readIncremental(spark, s3).select("k").as[Int].collect()
      .toSeq == Seq(5))

    // expire everything but the last two snapshots: the pre-compaction
    // chunk dirs are no longer referenced by any survivor and vanish
    val expired = t.expireSnapshots(keepLast = 2)
    assert(expired == Seq(s1, s2, s3))
    assert(t.history().size == 2)
    assert(t.read(spark).count() == 5, "current view unaffected by expiry")
    // expired, unreferenced dirs were reclaimed from disk
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data", s1)))
    // the compacted dir survives (still referenced by current's chain)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data", c)))
  }

  test("snapshot summary round-trips") {
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val id = t.commit(Seq((1, "a")).toDF("k", "v"), Seq.empty,
      Map("run-id" -> "r1", "mode" -> "ingest"))
    val sum = t.snapshotSummary(id)
    assert(sum("run-id") == "r1" && sum("mode") == "ingest")
  }

  test("partitioned commit writes hive-style layout readable with pruning") {
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val df = Seq((1, "2023", "a"), (2, "2024", "b")).toDF("k", "year", "v")
    val id = t.commit(df, Seq("year"))
    val read = t.readAt(spark, id).filter(col("year") === "2024")
    assert(read.count() == 1)
    // partition-pruned scan: only the year=2024 directory is listed
    val scan = read.queryExecution.executedPlan.toString
    assert(!scan.contains("year=2023") || scan.contains("PartitionFilters"))
  }

  test("concurrent-writer detection: stale parent fails the commit") {
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val id1 = t.commit(Seq((1, "a")).toDF("k", "v"), Seq.empty)
    // a commit built on the pre-id1 state (parent None) must fail rather
    // than swap the pointer and drop id1's data dir from the manifest
    intercept[java.util.ConcurrentModificationException] {
      t.requireParent(None)
    }
    intercept[java.util.ConcurrentModificationException] {
      t.requireParent(Some("0000000000000-000000"))
    }
    // the up-to-date parent passes, and sequential commits still work
    t.requireParent(Some(id1))
    val id2 = t.commit(Seq((2, "b")).toDF("k", "v"), Seq.empty)
    assert(t.read(spark).count() == 2, s"cumulative view after $id2")
    // a failed commit must also RECLAIM its orphaned data dir — nothing
    // references it, so no later expiry could ever delete it
    val orphan = java.nio.file.Paths.get(root, "data", "loser-000001")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    intercept[java.util.ConcurrentModificationException] {
      t.requireParentOrCleanup(Some("0000000000000-000000"), orphan.toString)
    }
    assert(!java.nio.file.Files.exists(orphan),
      "conflict-losing commit's data dir is deleted, not leaked")
  }

  test("commit lock: concurrent racers — one wins, loser fails cleanly, no orphans") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("snap-")
    val t = new SnapshotTable(root)
    val base = t.commit(Seq((0, "base")).toDF("k", "v"), Seq.empty)

    // two same-parent writers race through separate table handles (each
    // handle tracks its own seq, like two driver processes would)
    val ta = new SnapshotTable(root)
    val tb = new SnapshotTable(root)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, String]]()
    def racer(name: String, tab: SnapshotTable, k: Int): Thread = {
      val th = new Thread(() => {
        gate.await()
        results.put(name,
          try Right(tab.commit(Seq((k, name)).toDF("k", "v"), Seq.empty))
          catch { case e: Throwable => Left(e) })
      })
      th.start(); th
    }
    val threads = Seq(racer("a", ta, 1), racer("b", tb, 2))
    gate.countDown()
    threads.foreach(_.join(120000))

    val wins = results.values().toArray.collect { case Right(id: String) => id }
    val losses = results.values().toArray.collect { case Left(e: Throwable) => e }
    assert(wins.length == 1 && losses.length == 1,
      s"exactly one racer must win: $results")
    assert(losses.head.isInstanceOf[java.util.ConcurrentModificationException],
      s"loser fails with a conflict, got: ${losses.head}")
    // the winner's data survives and the table view is consistent
    assert(t.read(spark).count() == 2, "base row + winner's row")
    // no orphan data dirs: every dir on disk is referenced by a manifest
    val referenced = t.history().flatMap(t.dataPaths).toSet
    val onDisk = Files.list(Paths.get(root, "data")).toArray
      .map(_.toString).toSet
    assert(onDisk.subsetOf(referenced),
      s"loser's data dir must be reclaimed: onDisk=$onDisk referenced=$referenced")
    // the lock itself is released
    assert(!Files.exists(Paths.get(root, "metadata", "commit.lock")))
    // and the winner is a child of base in commit order
    assert(t.history() == Seq(base, wins.head).sorted)

    // stale-lock recovery: a crashed writer's old lock can be broken,
    // a fresh one cannot
    Files.write(Paths.get(root, "metadata", "commit.lock"),
      s"999 ${System.currentTimeMillis() - 3600 * 1000}".getBytes)
    assert(t.breakStaleLock(), "hour-old lock is stale")
    Files.write(Paths.get(root, "metadata", "commit.lock"),
      s"999 ${System.currentTimeMillis()}".getBytes)
    assert(!t.breakStaleLock(), "fresh lock is live — kept")
    Files.delete(Paths.get(root, "metadata", "commit.lock"))
    // commits work again after the conflict
    t.commit(Seq((3, "c")).toDF("k", "v"), Seq.empty)
    assert(t.read(spark).count() == 3)
  }
}
