package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Replayer
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.{LakeTable, Maintenance}
import graft.oracle.FoldOracle
import graft.streaming.ChangeFeed

/** CDC-OUT as a live feed: [[ChangeFeed]] tails a lake table's manifest
  * log and an exactly-once consumer ([[ChangeFeed.mirrorInto]]) maintains
  * a downstream mirror table — consumed incrementally across commits, a
  * column rename, and a compaction, with crash/re-delivery convergence.
  */
class ChangeFeedSpec extends SparkSpec {

  private val cfg = GenConfig(seed = 33L, numEvents = 2400L, numRepos = 10,
    pathsPerRepo = 30, epochSize = 400L, pctInsert = 50, pctUpdate = 30,
    pctDelete = 20, duplicateRate = 50)

  private def digest(df: DataFrame, langCol: String): String =
    FoldOracle.digestOf(df
      .select(col("repo"), col("path"), col("commit"),
        col(langCol).as("lang"), col("content"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq)

  test("mirror consumes the feed incrementally across commits, a rename " +
      "and a compaction; a crashed cursor re-delivers and no-ops " +
      "(exactly-once composition)") {
    val source = new LakeTable(tmpDir("feed-src"), 4)
    val mirror = new LakeTable(tmpDir("feed-mir"), 4)
    val cursor = new ChangeFeed.Cursor(tmpDir("feed-cur") + "/cursor")
    val events = ChangeGen.stream(spark, cfg).toDF()

    // increment 1: bootstrap over the first two epochs
    Replayer.run(spark, events, source, maxEpoch = 5, upToEpoch = Some(1))
    assert(ChangeFeed.drain(spark, source, cursor)(
      ChangeFeed.mirrorInto(spark, source, mirror)) == 1)
    assert(digest(mirror.snapshot(spark), "lang")
      == digest(source.snapshot(spark), "lang"))

    // increments 2..: per-epoch tailing, then a RENAME, then a COMPACTION
    // folding pre-rename delta files away, then more epochs — the feed
    // must stay exact across all of it
    var consumed = 0
    val incs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drainAll(): Unit = consumed += ChangeFeed.drain(spark, source,
      cursor) { inc =>
        incs += ((inc.fromVersion, inc.toVersion))
        ChangeFeed.mirrorInto(spark, source, mirror)(inc)
      }
    Replayer.run(spark, events, source, maxEpoch = 5, upToEpoch = Some(2))
    drainAll()
    source.renameColumn("lang", "language")
    // the upstream feed MIGRATES to the new name after the rename (the
    // full compaction below clears the alias mapping, after which a batch
    // still using the retired name would re-introduce it as a NEW column
    // — mergeEpoch fails fast on that, SchemaEvolutionSpec pins it)
    val migrated = events.withColumnRenamed("lang", "language")
    Replayer.run(spark, migrated, source, maxEpoch = 5, upToEpoch = Some(3))
    drainAll()
    assert(Maintenance.compact(spark, source).isDefined)
    Replayer.run(spark, migrated, source, maxEpoch = 5)
    drainAll()
    assert(consumed >= 3, s"expected >=3 live increments, got $consumed")
    // intervals are contiguous: each increment starts where the last ended
    incs.sliding(2).foreach { case scala.collection.Seq(a, b) =>
      assert(a._2 == b._1, s"gap between increments $a and $b")
    }
    // the mirror tracked the rename (schema) and the content (digest)
    assert(mirror.currentManifest.get.schema.fieldNames.contains("language"))
    assert(!mirror.snapshot(spark).columns.contains("lang"))
    assert(digest(mirror.snapshot(spark), "language")
      == digest(source.snapshot(spark), "language"))
    assert(digest(source.snapshot(spark), "language") ==
      FoldOracle.digestOfState(FoldOracle.expectedState(
        cfg.copy(duplicateRate = 0))))

    // CRASH: the cursor is rolled back to a consumed version — re-delivery
    // of the committed range must no-op on the mirror (same epoch =
    // toVersion), leaving the manifest untouched
    val vMirror = mirror.currentVersion
    val lastFrom = incs.last._1
    locally {
      val p = java.nio.file.Paths.get(cursor.path)
      java.nio.file.Files.write(p, lastFrom.toString.getBytes("UTF-8"))
    }
    assert(ChangeFeed.drain(spark, source, cursor)(
      ChangeFeed.mirrorInto(spark, source, mirror)) == 1)
    assert(mirror.currentVersion == vMirror,
      "re-delivered range must not re-commit")
    assert(digest(mirror.snapshot(spark), "language")
      == digest(source.snapshot(spark), "language"))
  }

  test("live follow(): a committer thread drives epochs while the feed " +
      "tails; after graceful stop the mirror equals the source") {
    val source = new LakeTable(tmpDir("feed-live-src"), 4)
    val mirror = new LakeTable(tmpDir("feed-live-mir"), 4)
    val cursor = new ChangeFeed.Cursor(tmpDir("feed-live-cur") + "/cursor")
    val events = ChangeGen.stream(spark, cfg).toDF().cache()
    events.count()

    @volatile var done = false
    val committer = new Thread(() => {
      try (0L to 5L).foreach { e =>
        Replayer.run(spark, events, source, maxEpoch = 5, upToEpoch = Some(e))
        Thread.sleep(30)
      } finally done = true
    })
    committer.start()
    // tails live; the final post-stop drain picks up anything committed
    // between the last poll and the stop signal
    val n = ChangeFeed.follow(spark, source, cursor, pollIntervalMs = 20L)(
      () => done)(ChangeFeed.mirrorInto(spark, source, mirror))
    committer.join()
    events.unpersist()
    assert(n >= 1)
    assert(cursor.read == source.currentVersion)
    assert(digest(mirror.snapshot(spark), "lang")
      == digest(source.snapshot(spark), "lang"))
  }

  test("bootstrap carries retained tombstones — a key deleted before the " +
      "consumer subscribed stays dead in the mirror") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val source = new LakeTable(tmpDir("feed-boot-src"), 4)
    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(0, 0, "I", "r1", "a.scala", "c0", "scala", "x", 1),
      ChangeEvent(1, 0, "I", "r1", "b.scala", "c1", "scala", "y", 1)
    ).toDF(), 0L)
    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(2, 1, "D", "r1", "a.scala", "c2", "scala", "", 1)
    ).toDF(), 1L)
    val mirror = new LakeTable(tmpDir("feed-boot-mir"), 4)
    val cursor = new ChangeFeed.Cursor(tmpDir("feed-boot-cur") + "/cursor")
    assert(ChangeFeed.drain(spark, source, cursor)(
      ChangeFeed.mirrorInto(spark, source, mirror)) == 1)
    assert(mirror.snapshot(spark).select("path").collect()
      .map(_.getString(0)).toSet == Set("b.scala"))
    // physically retained tombstone: a late re-delivered pre-delete event
    // cannot resurrect the key downstream either
    assert(mirror.read(spark)
      .filter(col("path") === "a.scala" && col("__deleted")).count() == 1)
  }

  test("a cursor that lagged past vacuum's manifest-retention floor fails " +
      "loudly with the re-bootstrap instruction") {
    val source = new LakeTable(tmpDir("feed-vac-src"), 4)
    val events = ChangeGen.stream(spark, cfg).toDF()
    Replayer.run(spark, events, source, maxEpoch = 5)
    Maintenance.vacuum(source, retainVersions = 2, graceMillis = 0L)
    val ex = intercept[IllegalStateException] {
      ChangeFeed.poll(spark, source, after = 1L)
    }
    assert(ex.getMessage.contains("re-bootstrap"))
    // a caught-up cursor polls None
    assert(ChangeFeed.poll(spark, source, source.currentVersion).isEmpty)
  }

  test("a BOOTSTRAP over a stale mirror (last applied version vacuumed) " +
      "is refused — GC'd tombstones could resurrect; re-delivery within " +
      "retention stays legal") {
    val source = new LakeTable(tmpDir("feed-stale-src"), 4)
    val events = ChangeGen.stream(spark, cfg).toDF()
    Replayer.run(spark, events, source, maxEpoch = 1)
    val mirror = new LakeTable(tmpDir("feed-stale-mir"), 4)
    val cursor = new ChangeFeed.Cursor(tmpDir("feed-stale-cur") + "/cursor")
    ChangeFeed.drain(spark, source, cursor)(
      ChangeFeed.mirrorInto(spark, source, mirror))
    val appliedV = mirror.currentManifest.get.epochWatermark
    // crash-shape re-delivery of the SAME bootstrap (cursor lost, mirror
    // still within retention) is legal and idempotent
    ChangeFeed.poll(spark, source, after = 0L).foreach(
      ChangeFeed.mirrorInto(spark, source, mirror))
    // source runs far ahead; vacuum reclaims the mirror's applied version
    Replayer.run(spark, events, source, maxEpoch = 5)
    Maintenance.vacuum(source, retainVersions = 1, graceMillis = 0L)
    assert(!source.hasVersion(appliedV), "applied version must be vacuumed")
    val ex = intercept[IllegalStateException] {
      ChangeFeed.poll(spark, source, after = 0L).foreach(
        ChangeFeed.mirrorInto(spark, source, mirror))
    }
    assert(ex.getMessage.contains("FRESH root"))
  }

  test("a BOOTSTRAP over a mirror that predates a tombstone-GC compaction " +
      "is refused even with every manifest still on disk; a mirror that " +
      "applied the delete re-bootstraps legally") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val source = new LakeTable(tmpDir("feed-tgc-src"), 4)
    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(0, 0, "I", "r1", "a.scala", "c0", "scala", "x", 1),
      ChangeEvent(1, 0, "I", "r1", "b.scala", "c1", "scala", "y", 1)
    ).toDF(), 0L)
    // stale mirror: bootstrapped while a.scala was live, then lost its cursor
    val stale = new LakeTable(tmpDir("feed-tgc-stale"), 4)
    val staleCur = new ChangeFeed.Cursor(tmpDir("feed-tgc-sc") + "/cursor")
    ChangeFeed.drain(spark, source, staleCur)(
      ChangeFeed.mirrorInto(spark, source, stale))
    // live mirror: keeps draining through the delete below
    val live = new LakeTable(tmpDir("feed-tgc-live"), 4)
    val liveCur = new ChangeFeed.Cursor(tmpDir("feed-tgc-lc") + "/cursor")
    ChangeFeed.drain(spark, source, liveCur)(
      ChangeFeed.mirrorInto(spark, source, live))

    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(2, 1, "D", "r1", "a.scala", "c2", "scala", "", 1)
    ).toDF(), 1L)
    ChangeFeed.drain(spark, source, liveCur)(
      ChangeFeed.mirrorInto(spark, source, live)) // live applies the delete
    // GC the tombstone out of HEAD STATE; every manifest stays on disk
    assert(Maintenance.compact(spark, source, tombstoneWatermark = 2L).isDefined)
    assert(source.read(spark).filter(col("__deleted")).count() == 0,
      "tombstone must be physically gone")
    val staleApplied = stale.currentManifest.get.epochWatermark
    assert(source.hasVersion(staleApplied),
      "the manifest-retention axis must be green — this is the GC axis")
    // the stale mirror's lost-cursor bootstrap must refuse: a.scala's
    // delete was GC'd and its stale live row would resurrect
    val ex = intercept[IllegalStateException] {
      ChangeFeed.poll(spark, source, after = 0L).foreach(
        ChangeFeed.mirrorInto(spark, source, stale))
    }
    assert(ex.getMessage.contains("tombstone-GC compaction"))
    // the live mirror applied the source through the version just below
    // the compaction: its lost-cursor bootstrap is legal, idempotent,
    // and converges
    ChangeFeed.poll(spark, source, after = 0L).foreach(
      ChangeFeed.mirrorInto(spark, source, live))
    assert(live.snapshot(spark).select("path").collect()
      .map(_.getString(0)).toSet == Set("b.scala"))
  }

  test("the tombstone-GC bootstrap guard is VERSION-based: a mirror whose " +
      "applied seq exceeds a GC'd delete's seq but which never applied " +
      "that delete is refused (seqs are uncorrelated with commit order)") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val source = new LakeTable(tmpDir("feed-ooo-src"), 4)
    // v1 / epoch 0: one key with a LOW seq, another with a HIGH seq
    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(10, 0, "I", "r1", "a.scala", "c0", "scala", "x", 1),
      ChangeEvent(100, 0, "I", "r1", "b.scala", "c1", "scala", "y", 1)
    ).toDF(), 0L)
    val stale = new LakeTable(tmpDir("feed-ooo-stale"), 4)
    val cur = new ChangeFeed.Cursor(tmpDir("feed-ooo-cur") + "/cursor")
    ChangeFeed.drain(spark, source, cur)(
      ChangeFeed.mirrorInto(spark, source, stale))
    assert(stale.lastSeq == 100L, "the stale mirror's seq high-water mark")
    // v2 / epoch 1: delete the low-seq key with a seq BETWEEN the two
    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(50, 1, "D", "r1", "a.scala", "c2", "scala", "", 1)
    ).toDF(), 1L)
    // v3: GC the tombstone with a watermark above the delete's seq but
    // below the stale mirror's lastSeq
    assert(Maintenance.compact(spark, source, tombstoneWatermark = 60L)
      .isDefined)
    assert(source.read(spark).filter(col("__deleted")).count() == 0,
      "tombstone must be physically gone")
    // a seq high-water guard would PASS here (lastSeq 100 >= watermark 60)
    // and permanently resurrect a.scala; the version guard refuses
    // (applied v1 < gc-version 3 minus 1)
    val ex = intercept[IllegalStateException] {
      ChangeFeed.poll(spark, source, after = 0L).foreach(
        ChangeFeed.mirrorInto(spark, source, stale))
    }
    assert(ex.getMessage.contains("tombstone-GC compaction"))
  }

  test("a lost-cursor bootstrap over a mirror whose schema predates an " +
      "upstream rename replays the rename from manifest history instead " +
      "of evolving the new name as a junk extra column") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val source = new LakeTable(tmpDir("feed-rnb-src"), 4)
    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(0, 0, "I", "r1", "a.scala", "c0", "scala", "x", 1),
      ChangeEvent(1, 0, "I", "r1", "b.scala", "c1", "scala", "y", 1)
    ).toDF(), 0L)                                                   // v1
    val mirror = new LakeTable(tmpDir("feed-rnb-mir"), 4)
    val cur = new ChangeFeed.Cursor(tmpDir("feed-rnb-cur") + "/cursor")
    ChangeFeed.drain(spark, source, cur)(
      ChangeFeed.mirrorInto(spark, source, mirror))
    source.renameColumn("lang", "language")                         // v2
    graft.lake.MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(2, 1, "U", "r1", "a.scala", "c2", "scala", "z", 1)
    ).toDF().withColumnRenamed("lang", "language"), 1L)             // v3
    // cursor lost → bootstrap over the pre-rename mirror; a bootstrap
    // increment carries no interval renames, so mirrorInto must recover
    // them from the manifest history since the mirror's applied version
    ChangeFeed.poll(spark, source, after = 0L).foreach(
      ChangeFeed.mirrorInto(spark, source, mirror))
    val cols = mirror.currentManifest.get.schema.fieldNames.toSet
    assert(cols.contains("language") && !cols.contains("lang"),
      s"mirror schema must track the rename, got $cols")
    assert(digest(mirror.snapshot(spark), "language")
      == digest(source.snapshot(spark), "language"))
  }
}
